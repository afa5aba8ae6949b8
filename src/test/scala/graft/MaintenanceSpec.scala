package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

import graft.sources.SnapStore

/** Physical contracts of the SnapStore maintenance faces — the
  * claims the DuckDB oracles cannot see: which files a MERGE
  * rewrites, what compaction does to the layout, what expiry
  * deletes, and how evolved columns read from historical files.
  */
class MaintenanceSpec extends SparkSpec {

  private def freshTable(name: String): Path = {
    val dir = Files.createTempDirectory(s"graft-snapspec-$name")
    dir.toFile.deleteOnExit()
    dir.resolve("t")
  }

  private def docs = Tables.documents(spark, sf).select(
    col("doc_id"), pmod(col("doc_id"), lit(8L)).as("part"),
    col("source"), col("text"))

  test("merge rewrites only files intersecting changed partitions; " +
    "untouched files carry byte-identical") {
    val t = freshTable("merge")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    // Byte-level fingerprint of every v1 data file before the merge.
    val sizesBefore = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap

    val changes = docs.filter(col("part") === 2)
      .withColumn("text", concat(col("text"), lit(" upd")))
    SnapStore.merge(spark, t, changes, "doc_id", "part")
    val v2 = SnapStore.currentManifest(t)

    val (touched1, untouched1) = v1.files.partition(f =>
      f.partMin.toLong <= 2 && 2 <= f.partMax.toLong)
    assert(touched1.nonEmpty, "fixture must populate partition 2")
    assert(untouched1.nonEmpty, "fixture must populate other partitions")
    // Every untouched v1 file is in v2 UNDER THE SAME PATH, mtime
    // unchanged (carried, not rewritten); no touched v1 file is.
    untouched1.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == sizesBefore(f.path),
        s"${f.path} must not be rewritten")
    }
    touched1.foreach { f =>
      assert(!v2.files.exists(_.path == f.path),
        s"${f.path} intersects the changed partition and must be replaced")
    }
    // Contents: part-2 rows all updated, everything else identical.
    val after = SnapStore.read(spark, t)
    assert(after.count() == docs.count())
    assert(after.filter(col("part") === 2 && !col("text").endsWith(" upd"))
      .count() == 0)
    assert(after.filter(col("part") =!= 2 && col("text").endsWith(" upd"))
      .count() == 0)
  }

  test("partition-moving update leaves no duplicate key: the old " +
    "row's file rewrites even though bounds would have pruned it") {
    val t = freshTable("move")
    SnapStore.create(spark, t, docs, "part")
    // Move one doc of partition 0 to partition 5: the change row's
    // partition set is {5}, so bound pruning alone would carry the
    // part-0 file holding the OLD row — and the key would exist
    // twice. The key-holding scan must catch it.
    val victim = docs.filter(col("part") === 0).orderBy("doc_id")
      .limit(1).collect()(0).getLong(0)
    val change = docs.filter(col("doc_id") === victim)
      .withColumn("part", lit(5L))
      .withColumn("text", concat(col("text"), lit(" moved")))
    SnapStore.merge(spark, t, change, "doc_id", "part")
    val after = SnapStore.read(spark, t)
    assert(after.count() == docs.count(), "no row gained or lost")
    val rows = after.filter(col("doc_id") === victim).collect()
    assert(rows.length == 1, s"key $victim must exist exactly once")
    assert(rows(0).getLong(1) == 5L && rows(0).getString(3).endsWith(" moved"))
    // Files in partitions the change set neither targets nor holds
    // matched keys in still carry untouched.
    val v1 = SnapStore.manifest(t, 1)
    val v2 = SnapStore.currentManifest(t)
    val unrelated = v1.files.filter(f => f.partMin.toLong > 0 && f.partMax.toLong < 5)
    assert(unrelated.nonEmpty, "fixture must give mid-partition files")
    unrelated.foreach(f => assert(v2.files.exists(_.path == f.path),
      s"${f.path} holds no matched key and must carry"))
  }

  test("merge inserts unmatched change rows") {
    val t = freshTable("merge-ins")
    SnapStore.create(spark, t, docs, "part")
    val ins = docs.filter(col("part") === 3).limit(5)
      .withColumn("doc_id", col("doc_id") + 900000L)
    SnapStore.merge(spark, t, ins, "doc_id", "part")
    assert(SnapStore.read(spark, t).count() == docs.count() + 5)
  }

  test("compaction collapses a fragmented layout; contents identical") {
    val t = freshTable("compact")
    SnapStore.create(spark, t, docs, "part", numFiles = 32,
      clusterExprs = Seq(col("part"), pmod(col("doc_id"), lit(4L))))
    val before = SnapStore.currentManifest(t)
    val total = before.files.map(_.bytes).sum
    SnapStore.compact(spark, t, "part", targetBytes = total / 3 + 1)
    val after = SnapStore.currentManifest(t)
    assert(before.files.size > after.files.size,
      s"expected fewer files, got ${before.files.size} -> ${after.files.size}")
    // Layout-only: same rows, same per-row contents.
    val a = SnapStore.read(spark, t, Some(before.version))
      .orderBy("doc_id").collect()
    val b = SnapStore.read(spark, t).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("expiry drops old snapshots, deletes only orphaned files, " +
    "and expired VERSION AS OF raises") {
    val t = freshTable("expire")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    SnapStore.merge(spark, t,
      docs.filter(col("part") === 1)
        .withColumn("text", concat(col("text"), lit(" u"))),
      "doc_id", "part")
    val v2 = SnapStore.currentManifest(t)
    val liveRowsBefore = SnapStore.read(spark, t).count()

    val (expired, deleted) = SnapStore.expire(t, keepLast = 1)
    assert(expired == Seq(1))
    // Orphans = exactly the v1 files v2 no longer references.
    val expectedOrphans = v1.files.map(_.path)
      .filterNot(p => v2.files.exists(_.path == p)).sorted
    assert(deleted.sorted == expectedOrphans)
    deleted.foreach(p => assert(!Files.exists(t.resolve(p))))
    v2.files.foreach(f => assert(Files.exists(t.resolve(f.path))))
    // Live read unaffected; expired read raises the Iceberg-shaped
    // missing-snapshot error.
    assert(SnapStore.read(spark, t).count() == liveRowsBefore)
    val e = intercept[IllegalArgumentException] {
      SnapStore.read(spark, t, Some(1))
    }
    assert(e.getMessage.contains("Cannot find snapshot"))
  }

  test("add-column evolution: metadata-only commit, old files read " +
    "nulls, appended files carry values, filter pushdown intact") {
    val t = freshTable("evo")
    SnapStore.create(spark, t, docs, "part")
    val v1Files = SnapStore.currentManifest(t).files.map(_.path).toSet
    SnapStore.addColumn(t, StructField("score", LongType))
    val v2 = SnapStore.currentManifest(t)
    assert(v2.files.map(_.path).toSet == v1Files, "no data rewrite")
    assert(v2.schema.fieldNames.contains("score"))

    val n = docs.count()
    // Old files: the evolved column reads as null.
    val evolved = SnapStore.read(spark, t)
    assert(evolved.filter(col("score").isNull).count() == n)

    SnapStore.append(spark, t,
      docs.limit(3).withColumn("doc_id", col("doc_id") + 800000L)
        .withColumn("score", lit(7L)),
      "part")
    val after = SnapStore.read(spark, t)
    assert(after.filter(col("score") === 7L).count() == 3)
    assert(after.filter(col("score").isNull).count() == n)
    // Pushdown survives the user-specified evolved schema.
    val plan = after.filter(col("doc_id") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,1)]"),
      s"expected doc_id pushdown in:\n$plan")
  }

  test("catalog route: snapshot table resolves, time travel works, " +
    "ALTER TABLE ADD COLUMN commits through the catalog, files " +
    "metadata lists the live manifest") {
    val dir = Files.createTempDirectory("graft-snapspec-cat")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.merge(spark, t,
      docs.filter(col("part") === 4)
        .withColumn("text", concat(col("text"), lit(" c"))),
      "doc_id", "part")
    spark.conf.set("spark.graft.catalog.dir.maintspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    val n = docs.count()
    assert(spark.table("graft.maintspec.docs").count() == n)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.maintspec.docs VERSION AS OF 1")
      .head().getLong(0) == n)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft.maintspec.docs VERSION AS OF 9").collect()
    }
    assert(err.getMessage.contains("not found") ||
      err.getMessage.contains("Cannot find snapshot"))

    spark.sql("ALTER TABLE graft.maintspec.docs ADD COLUMN score BIGINT")
    val evolved = spark.table("graft.maintspec.docs")
    assert(evolved.schema.fieldNames.contains("score"))
    assert(evolved.filter(col("score").isNull).count() == n)

    val live = SnapStore.currentManifest(t).files
    val listed = spark.table("graft.maintspec.docs.files")
      .orderBy("file_path").collect()
    assert(listed.length == live.size)
    assert(listed.map(_.getString(0)).toSet ==
      live.map(f => t.resolve(f.path).toString).toSet)
    assert(listed.map(_.getLong(1)).sum == live.map(_.bytes).sum)
    // Iceberg-style per-file stats columns ride along: record counts
    // sum to the table's rows, bounds and seq mirror the manifest.
    assert(listed.map(_.getLong(2)).sum == live.map(_.rows).sum)
    assert(listed.map(r => (r.getString(3), r.getString(4))).toSet ==
      live.map(f => (f.partMin, f.partMax)).toSet)
    assert(listed.map(_.getInt(6)).toSet == live.map(_.seq).toSet)
  }

  test("delete rewrites only files intersecting its partitions and " +
    "drops exactly the matched rows") {
    val t = freshTable("delete")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val delKeys = docs.filter(col("part") === 5 &&
      pmod(col("doc_id"), lit(3L)) === 0).select("doc_id", "part")
    val nDel = delKeys.count()
    assert(nDel > 0, "fixture must populate the delete set")
    SnapStore.delete(spark, t, delKeys, "doc_id", "part")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "delete")
    val (touched1, untouched1) = v1.files.partition(f =>
      f.partMin.toLong <= 5 && 5 <= f.partMax.toLong)
    untouched1.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
        s"${f.path} must not be rewritten")
    }
    touched1.foreach(f => assert(!v2.files.exists(_.path == f.path),
      s"${f.path} intersects the delete partition and must be replaced"))
    val after = SnapStore.read(spark, t)
    assert(after.count() == docs.count() - nDel)
    assert(after.filter(col("part") === 5 &&
      pmod(col("doc_id"), lit(3L)) === 0).count() == 0)
    assert(after.filter(col("part") =!= 5).count() ==
      docs.filter(col("part") =!= 5).count())
  }

  test("incremental read serves exactly the appended batch from " +
    "added files only, and rejects replace-style history") {
    val t = freshTable("incr")
    SnapStore.create(spark, t, docs.filter(col("part") < 6), "part")
    val baseFiles = SnapStore.currentManifest(t).files.map(_.path).toSet
    SnapStore.append(spark, t, docs.filter(col("part") >= 6), "part")
    val inc = SnapStore.incrementalRead(spark, t, 1, 2)
    // Exactly the appended rows...
    val want = docs.filter(col("part") >= 6).orderBy("doc_id").collect()
    assert(inc.orderBy("doc_id").collect().toSeq == want.toSeq)
    // ...and the scan plans over ONLY the added files (no base IO).
    val scanned = inc.select(input_file_name()).distinct()
      .collect().map(r => r.getString(0)).toSet
    assert(scanned.forall(p => !baseFiles.exists(p.endsWith)),
      s"incremental scan must not read base files: $scanned")
    // A merge between the versions poisons the increment: raise.
    SnapStore.merge(spark, t,
      docs.filter(col("part") === 1).limit(2)
        .withColumn("text", concat(col("text"), lit(" u"))),
      "doc_id", "part")
    val e = intercept[IllegalArgumentException] {
      SnapStore.incrementalRead(spark, t, 1, 3)
    }
    assert(e.getMessage.contains("append-only"))
    // The appends-only sub-range still reads fine.
    assert(SnapStore.incrementalRead(spark, t, 1, 2).count() == want.length)
  }

  test("sort-order rewrite tightens per-file source spans and sorts " +
    "rows inside files; contents identical") {
    val t = freshTable("sortrw")
    SnapStore.create(spark, t, docs, "part", numFiles = 16)
    def spans(m: graft.sources.SnapStore.Manifest): Seq[Long] =
      m.files.map { f =>
        spark.read.parquet(t.resolve(f.path).toString)
          .select(countDistinct(col("source"))).head().getLong(0)
      }
    val v1 = SnapStore.currentManifest(t)
    val before = spans(v1)
    SnapStore.rewriteClustered(spark, t, "part", Seq(col("source")),
      numFiles = 16)
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "rewrite-sorted")
    val after = spans(v2)
    // Clustering evidence: the average per-file distinct-source span
    // shrinks (range boundaries now split on source inside partitions,
    // so a source-filtered scan skips whole files/row groups).
    assert(after.sum.toDouble / after.size < before.sum.toDouble / before.size,
      s"expected tighter source spans, got $before -> $after")
    // In-file sortedness on the cluster key (row-group min/max bite).
    v2.files.foreach { f =>
      val rows = spark.read.parquet(t.resolve(f.path).toString)
        .select("part", "source").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"${f.path} must be sorted by (part, source)")
    }
    // Placement-only: same rows before and after.
    val a = SnapStore.read(spark, t, Some(1)).orderBy("doc_id").collect()
    val b = SnapStore.read(spark, t).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("partition-spec evolution: metadata-only re-spec, stale-spec " +
    "writes rejected, rewrite-on-touch migration, pruning restored") {
    val t = freshTable("pevo")
    val d = docs.withColumn("tok",
      expr("CAST(size(split(text, ' ')) AS BIGINT)"))
    SnapStore.create(spark, t, d, "part")
    val v1 = SnapStore.currentManifest(t)
    assert(v1.partCol == "part")
    assert(v1.files.forall(_.specCol == "part"))

    // Evolution is a pure metadata commit: same files, new spec.
    SnapStore.evolveSpec(t, "tok")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "evolve-spec" && v2.partCol == "tok")
    assert(v2.files.map(_.path) == v1.files.map(_.path), "no data rewrite")

    // A merge under the STALE spec is rejected.
    val stale = intercept[IllegalArgumentException] {
      SnapStore.merge(spark, t, d.limit(1), "doc_id", "part")
    }
    assert(stale.getMessage.contains("evolve the spec"))

    // First merge under the new spec: old-spec files are
    // conservatively touched (their bounds describe `part`, not
    // `tok`) and thereby migrated to tok-bounded files.
    SnapStore.merge(spark, t,
      d.filter(col("doc_id") === 1L).withColumn("source", lit("m1")),
      "doc_id", "tok")
    val v3 = SnapStore.currentManifest(t)
    assert(v3.files.forall(_.specCol == "tok"), "migration must re-spec all files")
    assert(v1.files.forall(f => !v3.files.exists(_.path == f.path)))

    // Post-migration, bound pruning bites again: a merge confined to
    // the top tok band carries the low-tok files untouched.
    val mtimes = v3.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val band = d.filter(col("tok") >= 80L).withColumn("source", lit("m2"))
    assert(band.count() > 0, "fixture must populate the band")
    SnapStore.merge(spark, t, band, "doc_id", "tok")
    val v4 = SnapStore.currentManifest(t)
    val untouched3 = v3.files.filter(_.partMax.toLong < 80L)
    assert(untouched3.nonEmpty, "fixture must give low-tok files")
    untouched3.foreach { f =>
      assert(v4.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path))
    }
    // Contents: band rows re-sourced, others intact.
    val after = SnapStore.read(spark, t)
    assert(after.count() == d.count())
    assert(after.filter(col("tok") >= 80L && col("source") =!= "m2")
      .count() == 0)
    assert(after.filter(col("tok") < 80L && col("source") === "m2")
      .count() == 0)
  }

  test("snapshots metadata table lists the live history through the " +
    "catalog, and drops expired versions") {
    val dir = Files.createTempDirectory("graft-snapspec-log")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.append(spark, t, docs.limit(4)
      .withColumn("doc_id", col("doc_id") + 700000L), "part")
    spark.conf.set("spark.graft.catalog.dir.snaplog", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = docs.count()
    val rows = spark.sql(
      """SELECT version, parent, operation, n_files, total_rows
        |FROM graft.snaplog.docs.snapshots ORDER BY version""".stripMargin)
      .collect()
    assert(rows.map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1, 0, "create"), (2, 1, "append")))
    assert(rows(0).getLong(4) == n)
    assert(rows(1).getLong(4) == n + 4)
    // Totals agree with the files metadata listing.
    val manifestBytes = SnapStore.currentManifest(t).files.map(_.bytes).sum
    val logged = spark.sql(
      "SELECT total_bytes FROM graft.snaplog.docs.snapshots WHERE version = 2")
      .head().getLong(0)
    assert(logged == manifestBytes)
    // committed_at (Iceberg's snapshots column): real commit
    // instants, nondecreasing along the version chain.
    val ts = spark.sql(
      """SELECT committed_at FROM graft.snaplog.docs.snapshots
        |ORDER BY version""".stripMargin)
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.length == 2 && ts(0) <= ts(1) &&
      math.abs(ts(1) - System.currentTimeMillis()) < 3600 * 1000L)
    // Expiry removes v1 from the log.
    SnapStore.expire(t, keepLast = 1)
    val after = spark.sql(
      "SELECT version FROM graft.snaplog.docs.snapshots").collect()
    assert(after.map(_.getInt(0)).toSeq == Seq(2))
  }

  test("merge-on-read: equality delete is a zero-data-IO commit, " +
    "reads anti-join it, the catalog serves pending deletes via the " +
    "bridge, and applyDeletes folds them back to plain scans") {
    val dir = Files.createTempDirectory("graft-snapspec-mor")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val n = docs.count()
    val delKeys = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select("doc_id")
    val nDel = delKeys.count()

    SnapStore.deleteEquality(spark, t, delKeys, "doc_id")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "delete-mor")
    // Zero data IO: every v1 data file carries under the same path,
    // mtime untouched; the commit added exactly one delete file.
    assert(v2.files.map(_.path) == v1.files.map(_.path))
    v2.files.foreach(f =>
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path)))
    assert(v2.deleteFiles.size == 1 &&
      v2.deleteFiles.head.keyCol == "doc_id" &&
      v2.deleteFiles.head.rows == nDel)
    // Reads apply the delete at read time.
    val morRead = SnapStore.read(spark, t)
    assert(morRead.count() == n - nDel)
    assert(morRead.filter(pmod(col("doc_id"), lit(5L)) === 0).count() == 0)
    // COW compaction over pending deletes is now DELETE-AWARE
    // (rewritten bins fold applicable deletes, dead delete files
    // retire) — covered by the dedicated "delete-aware compaction"
    // spec below; this lifecycle keeps its debt pending to exercise
    // the read paths.
    // An APPEND is sequence-safe: its files outrank every
    // pending delete, so a re-inserted deleted key is served again
    // (Iceberg's sequence-number contract).
    val reKey = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .orderBy("doc_id").limit(1).collect()(0).getLong(0)
    assert(morRead.filter(col("doc_id") === reKey).count() == 0)
    SnapStore.append(spark, t, docs.filter(col("doc_id") === reKey), "part")
    assert(SnapStore.read(spark, t).count() == n - nDel + 1)
    assert(SnapStore.read(spark, t)
      .filter(col("doc_id") === reKey).count() == 1,
      s"re-inserted key $reKey must survive the older equality delete")
    // The catalog serves the PENDING-MOR snapshot through the
    // delete-aware bridge (r7) — not the plain parquet file list,
    // which would resurrect deleted rows.
    spark.conf.set("spark.graft.catalog.dir.morspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    assert(spark.table("graft.morspec.docs").count() == n - nDel + 1)

    // applyDeletes: deletes folded into rewritten files, pending set
    // cleared, plain-scan reads (and the catalog) work again.
    SnapStore.applyDeletes(spark, t, "part")
    val v4 = SnapStore.currentManifest(t)
    assert(v4.operation == "apply-deletes" && v4.deleteFiles.isEmpty)
    assert(SnapStore.read(spark, t).count() == n - nDel + 1)
    assert(spark.table("graft.morspec.docs").count() == n - nDel + 1)
    // Time travel to the MOR snapshot through the catalog serves the
    // delete-aware contents of THAT version (r7), agreeing with
    // SnapStore.read of the same version.
    assert(spark.sql(
      "SELECT * FROM graft.morspec.docs VERSION AS OF 2").count() == n - nDel)
    assert(SnapStore.read(spark, t, Some(2)).count() == n - nDel)
  }

  test("tags resolve in VERSION AS OF, protect their snapshot from " +
    "expiry, and rollback restores old contents as a new commit") {
    val dir = Files.createTempDirectory("graft-snapspec-tag")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.tag(t, "audit", 1)
    val n = docs.count()
    SnapStore.delete(spark, t,
      docs.filter(col("part") === 2).select("doc_id", "part"),
      "doc_id", "part")
    val nAfterDelete = SnapStore.read(spark, t).count()
    assert(nAfterDelete < n)

    spark.conf.set("spark.graft.catalog.dir.tagspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    // Tagged read through SQL time travel; numeric ids still work;
    // unknown tags raise the missing-reference error.
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.tagspec.docs VERSION AS OF 'audit'")
      .head().getLong(0) == n)
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.tagspec.docs VERSION AS OF 2")
      .head().getLong(0) == nAfterDelete)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft.tagspec.docs VERSION AS OF 'nope'")
        .collect()
    }
    assert(err.getMessage.contains("nope"))

    // Rollback: a NEW commit with v1's files; the delete commit stays
    // in history; current contents are the pre-delete base again.
    SnapStore.rollback(t, SnapStore.resolveVersion(t, "audit"))
    assert(SnapStore.history(t).map(_._3) ==
      Seq("create", "delete", "rollback"))
    assert(SnapStore.read(spark, t).count() == n)
    assert(SnapStore.currentManifest(t).files.map(_.path) ==
      SnapStore.manifest(t, 1).files.map(_.path))

    // Expiry with keepLast=1 preserves the TAGGED v1 (and its files)
    // while dropping the untagged delete commit.
    val (expired, _) = SnapStore.expire(t, keepLast = 1)
    assert(expired == Seq(2), s"expired $expired")
    assert(SnapStore.liveVersions(t) == Seq(1, 3))
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.tagspec.docs VERSION AS OF 'audit'")
      .head().getLong(0) == n)
  }

  test("optimistic concurrency: racing appends all commit, each as " +
    "its own snapshot, no rows lost, no orphan files") {
    val t = freshTable("race")
    SnapStore.create(spark, t, docs.limit(40), "part")
    val base = SnapStore.read(spark, t).count()
    val writers = 12
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futures = (1 to writers).map { i =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = SnapStore.append(spark, t,
            docs.limit(5).withColumn("doc_id", col("doc_id") + lit(i * 1000L)),
            "part").version
        })
      }
      val versions = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      // Every writer won a DISTINCT version (the losers retried onto
      // the next one); the log is gapless.
      assert(versions.distinct.size == writers, s"versions: $versions")
      assert(versions.sorted == (2 to writers + 1))
      assert(SnapStore.liveVersions(t) == (1 to writers + 1))
    } finally pool.shutdown()
    // No row lost or duplicated across the races.
    assert(SnapStore.read(spark, t).count() == base + writers * 5)
    // Lost attempts cleaned up after themselves: every parquet under
    // data/ is referenced by the final manifest (append-only history
    // carries everything), and no staging dir remains.
    val referenced = SnapStore.currentManifest(t).files.map(_.path).toSet
    val walk = Files.walk(t)
    val leftovers =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !referenced(t.relativize(p).toString.replace('\\', '/')))
        .toSeq
      finally walk.close()
    assert(leftovers.isEmpty, s"orphan files: $leftovers")
    val walk2 = Files.walk(t)
    val staging =
      try walk2.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".write-tmp-")).toSeq
      finally walk2.close()
    assert(staging.isEmpty, s"staging dirs left: $staging")
  }

  test("racing merges both apply: the loser rebases its rewrite onto " +
    "the winner's snapshot") {
    val t = freshTable("race-merge")
    SnapStore.create(spark, t, docs, "part")
    val n = docs.count()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      def mergeTask(part: Long, tag: String) =
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = SnapStore.merge(spark, t,
            docs.filter(col("part") === part)
              .withColumn("source", lit(tag)),
            "doc_id", "part").version
        })
      val (fa, fb) = (mergeTask(1L, "mA"), mergeTask(3L, "mB"))
      val va = fa.get(300, java.util.concurrent.TimeUnit.SECONDS)
      val vb = fb.get(300, java.util.concurrent.TimeUnit.SECONDS)
      assert(Set(va, vb) == Set(2, 3), s"got versions $va, $vb")
    } finally pool.shutdown()
    // Both rewrites landed regardless of commit order, nothing lost.
    val after = SnapStore.read(spark, t)
    assert(after.count() == n)
    assert(after.filter(col("part") === 1 && col("source") =!= "mA").count() == 0)
    assert(after.filter(col("part") === 3 && col("source") =!= "mB").count() == 0)
    assert(after.filter(col("source").isin("mA", "mB"))
      .count() == docs.filter(col("part").isin(1L, 3L)).count())
  }

  /** Spark jobs started while `body` runs — the physical currency of
    * the key-guard and compaction scale claims. Both uses COMPARE two
    * counts gathered the same way, so listener-drain timing bias
    * cancels.
    */
  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(800); n.get() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("key-bounds pruning: a merge whose keys miss every carried " +
    "file's key range runs NO key-guard scan job") {
    val t = freshTable("keybounds")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    val v1 = SnapStore.currentManifest(t)
    assert(v1.keyCol == "doc_id")
    assert(v1.files.forall(f => f.keyMin.nonEmpty && f.keyMax.nonEmpty),
      "create must collect per-file key bounds when keyCol is declared")
    val maxKey = v1.files.map(_.keyMax.toLong).max

    // Batch A: keys far ABOVE every file's key range (pure inserts
    // into partition 5) — the guard must prove zero candidates from
    // bounds alone and skip its scan entirely.
    val insOnly = docs.filter(col("part") === 5).limit(4)
      .withColumn("doc_id", col("doc_id") + lit(maxKey + 1000000L))
    val jobsA = jobsDuring {
      SnapStore.merge(spark, t, insOnly, "doc_id", "part")
    }
    // Batch B (same shape): EXISTING keys of partition 5 — the key
    // ranges intersect, so the guard scans (≥1 extra job).
    val upd = docs.filter(col("part") === 5).limit(4)
      .withColumn("text", concat(col("text"), lit(" u")))
    val jobsB = jobsDuring {
      SnapStore.merge(spark, t, upd, "doc_id", "part")
    }
    assert(jobsA < jobsB,
      s"out-of-range merge must skip the key-guard scan: $jobsA vs $jobsB jobs")
    // And correctness held both times.
    val after = SnapStore.read(spark, t)
    assert(after.count() == docs.count() + 4)
    assert(after.filter(col("doc_id") > maxKey).count() == 4)
  }

  test("compaction is one job over all multi-file bins: job count " +
    "stays O(1) as bins grow, one output file per bin") {
    val t = freshTable("compact1job")
    SnapStore.create(spark, t, docs, "part", numFiles = 32,
      clusterExprs = Seq(col("part"), pmod(col("doc_id"), lit(4L))))
    val before = SnapStore.currentManifest(t)
    val total = before.files.map(_.bytes).sum
    // Several multi-file bins (the tiny fixture's range sampling
    // folds the 32-way create to ~8 files; /3 packs them in pairs).
    val jobs = jobsDuring {
      SnapStore.compact(spark, t, "part", targetBytes = total / 3 + 1)
    }
    val after = SnapStore.currentManifest(t)
    val rewritten = after.files.filter(_.path.contains("compact-v2-"))
    val binIds = rewritten.map(f =>
      "-b(\\d+)-".r.findFirstMatchIn(f.path).get.group(1).toInt)
    assert(binIds.distinct.size >= 3, s"fixture must give many bins: $binIds")
    // One file per bin: the in-bin file index is always 0.
    assert(rewritten.forall(_.path.matches(".*-b\\d+-0-.*")),
      s"each bin must emit exactly one file: ${rewritten.map(_.path)}")
    assert(binIds.distinct.size == binIds.size)
    // O(1) jobs (scan+route+write, stats, bin broadcast, and the
    // r13 row-lineage map broadcast) — NOT 2 jobs per bin as a
    // serial per-bin rewrite would cost.
    assert(jobs <= 7,
      s"compaction must not scale jobs with bins: $jobs jobs for ${binIds.size} bins")
    // Layout-only: contents identical.
    val a = SnapStore.read(spark, t, Some(1)).orderBy("doc_id").collect()
    val b = SnapStore.read(spark, t).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("merge-on-read MERGE: one commit = delete file + new data " +
    "files, zero base rewrite, sequence-scoped reads upsert correctly") {
    val t = freshTable("mormerge")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val n = docs.count()
    val changes = docs.filter(col("part") === 2 &&
      pmod(col("doc_id"), lit(3L)) === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .unionByName(docs.filter(col("part") === 6).limit(3)
        .withColumn("doc_id", col("doc_id") + 500000L))
    val nUpd = docs.filter(col("part") === 2 &&
      pmod(col("doc_id"), lit(3L)) === 0).count()

    SnapStore.mergeEquality(spark, t, changes, "doc_id")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "merge-mor")
    // ZERO base data rewritten: every v1 file carries, mtime intact.
    v1.files.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
        s"${f.path} must not be rewritten by a MOR merge")
    }
    // The commit added data files (seq = v2) and ONE delete file.
    val added = v2.files.filterNot(f => v1.files.exists(_.path == f.path))
    assert(added.nonEmpty && added.forall(_.seq == v2.version))
    assert(v2.deleteFiles.size == 1 &&
      v2.deleteFiles.head.seq == v2.version &&
      v2.deleteFiles.head.kind == "eq")
    // Read semantics: matched rows updated exactly once, inserts
    // visible, count = n + inserts.
    val after = SnapStore.read(spark, t)
    assert(after.count() == n + 3)
    assert(after.filter(col("part") === 2 && pmod(col("doc_id"), lit(3L)) === 0
      && !col("text").endsWith(" v2")).count() == 0)
    assert(after.filter(col("text").endsWith(" v2")).count() == nUpd)
    assert(after.filter(col("doc_id") >= 500000L).count() == 3)
    // A SECOND MOR merge on top re-updates its keys (the newer delete
    // outranks the first merge's data files).
    SnapStore.mergeEquality(spark, t,
      docs.filter(col("part") === 2 && pmod(col("doc_id"), lit(3L)) === 0)
        .withColumn("text", concat(col("text"), lit(" v3"))),
      "doc_id")
    val after2 = SnapStore.read(spark, t)
    assert(after2.count() == n + 3)
    assert(after2.filter(col("text").endsWith(" v2")).count() == 0)
    assert(after2.filter(col("text").endsWith(" v3")).count() == nUpd)
    // applyDeletes folds both pending deletes away.
    SnapStore.applyDeletes(spark, t, "part")
    assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
    assert(SnapStore.read(spark, t).count() == n + 3)
  }

  test("position deletes: zero rewrite, ordinal-scoped suppression, " +
    "clean files stay on the plain scan path") {
    val t = freshTable("posdel")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val n = docs.count()
    // Delete set confined to partition 3 → only part-3 files are
    // named by the position delete.
    val cond = col("part") === 3 && pmod(col("doc_id"), lit(16L)) === 3
    val nDel = docs.filter(cond).count()
    assert(nDel > 0)

    SnapStore.deletePositions(spark, t, cond)
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "delete-pos")
    assert(v2.files.map(_.path) == v1.files.map(_.path), "zero data rewrite")
    v2.files.foreach(f =>
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path)))
    // One or more delete parquets (the hit set writes DISTRIBUTED —
    // one file per surviving probe partition, no coalesce(1) funnel),
    // whose manifest row counts sum to exactly the matched rows.
    assert(v2.deleteFiles.nonEmpty && v2.deleteFiles.forall(_.kind == "pos") &&
      v2.deleteFiles.map(_.rows).sum == nDel)
    // Referenced data files ride the MANIFEST (DeleteFile.refs,
    // Iceberg's referenced-data-file field): the read path routes
    // files to the ordinal anti-join without opening delete parquets.
    assert(v2.deleteFiles.forall(_.refs.nonEmpty))
    // The delete files name ONLY files that can hold partition 3.
    val named = v2.deleteFiles.flatMap(_.refs).toSet
    val namedOnDisk = spark.read
      .parquet(v2.deleteFiles.map(d => t.resolve(d.path).toString): _*)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    assert(named == namedOnDisk,
      s"manifest refs must equal the delete parquets' contents: " +
        s"$named vs $namedOnDisk")
    val part3Files = v1.files.filter(f =>
      f.partMin.toLong <= 3 && 3 <= f.partMax.toLong)
      .map(f => f.path.stripPrefix("data/")).toSet
    assert(named.nonEmpty && named.subsetOf(part3Files),
      s"pos delete must reference only part-3 files: $named vs $part3Files")
    assert(named.size < v1.files.size)
    // Reads: exactly the matched rows suppressed. Programmatic reads
    // of pending-MOR snapshots plan the NATIVE batch (r9, same stack
    // as the catalog SQL route): clean files keep delegated
    // vectorized scans, only the referenced files pay the ordinal
    // lookup, and nothing collects to a local relation or joins.
    val after = SnapStore.read(spark, t)
    assert(after.count() == n - nDel)
    assert(after.filter(cond).count() == 0)
    assert(after.filter(col("part") =!= 3).count() ==
      docs.filter(col("part") =!= 3).count())
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && plan.contains("graft-snap-native"),
      s"programmatic MOR read must plan the native batch:\n$plan")
    assert(!plan.contains("LocalTableScan"),
      "pos pairs must not be collected to a local relation:\n" + plan)
    assert(!plan.contains("Join"),
      "per-task delete application replaces the anti-join:\n" + plan)
    // applyDeletes folds the position deletes too.
    SnapStore.applyDeletes(spark, t, "part")
    assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
    assert(SnapStore.read(spark, t).count() == n - nDel)
  }

  test("branches: independent commit lines diverge, main is " +
    "untouched, fast-forward adopts the branch head, stale " +
    "fast-forward rejected, expiry keeps branch files") {
    val dir = Files.createTempDirectory("graft-snapspec-br")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    val n = docs.count()
    SnapStore.createBranch(t, "ingest")
    SnapStore.createBranch(t, "exp")
    assert(SnapStore.listBranches(t) == Seq("exp", "ingest"))
    intercept[IllegalArgumentException] { SnapStore.createBranch(t, "ingest") }
    // An overflowing all-digit ref gets the missing-reference error,
    // not NumberFormatException.
    val big = intercept[IllegalArgumentException] {
      SnapStore.resolveManifest(t, "99999999999")
    }
    assert(big.getMessage.contains("Cannot find snapshot reference"))

    // Two branches diverge with their own appends; main never moves.
    SnapStore.appendToBranch(spark, t, "ingest",
      docs.limit(5).withColumn("doc_id", col("doc_id") + 600000L), "part")
    SnapStore.appendToBranch(spark, t, "ingest",
      docs.limit(2).withColumn("doc_id", col("doc_id") + 650000L), "part")
    SnapStore.appendToBranch(spark, t, "exp",
      docs.limit(3).withColumn("doc_id", col("doc_id") + 700000L), "part")
    assert(SnapStore.currentVersion(t).contains(1), "main must not move")
    assert(SnapStore.read(spark, t).count() == n)
    assert(SnapStore.readBranch(spark, t, "ingest").count() == n + 7)
    assert(SnapStore.readBranch(spark, t, "exp").count() == n + 3)
    assert(SnapStore.branchHead(t, "ingest").contains(3))

    // VERSION AS OF '<branch>' reads the branch head via the catalog.
    spark.conf.set("spark.graft.catalog.dir.brspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.brspec.docs VERSION AS OF 'ingest'")
      .head().getLong(0) == n + 7)
    assert(spark.table("graft.brspec.docs").count() == n)

    // Fast-forward main to ingest: metadata commit with the branch
    // head's files; branch data now serves on main. Entries the
    // branch ADDED enter main's sequence space PRESERVING their
    // relative branch order, above the fork point and at most the FF
    // version — so a LATER equality delete suppresses them, an
    // earlier one never applies, and the two branch appends keep
    // their order (the invariant staged MOR delete files ride).
    val br2Paths = SnapStore.branchManifest(t, "ingest", 2).files
      .map(_.path).toSet
    SnapStore.fastForward(t, "ingest")
    assert(SnapStore.read(spark, t).count() == n + 7)
    val ff = SnapStore.currentManifest(t)
    assert(ff.operation == "fast-forward-ingest")
    val baseP = SnapStore.manifest(t, 1).files.map(_.path).toSet
    val added = ff.files.filterNot(f => baseP(f.path))
    added.foreach(f =>
      assert(f.seq > 1 && f.seq <= ff.version,
        s"branch-added ${f.path} must re-stamp above the fork point " +
          s"and at most the FF version, got ${f.seq} vs ${ff.version}"))
    val (first, second) = added.partition(f => br2Paths(f.path))
    assert(first.nonEmpty && second.nonEmpty &&
      first.map(_.seq).max < second.map(_.seq).min,
      "the two branch appends must keep their relative sequence order")
    // exp forked from version 1; main is now at 2 → not FF-able.
    val stale = intercept[IllegalArgumentException] {
      SnapStore.fastForward(t, "exp")
    }
    assert(stale.getMessage.contains("not fast-forwardable"))

    // Expiry keeps files referenced ONLY by branches: exp's appended
    // files survive keepLast=1 expiry of main.
    val expFiles = SnapStore.branchManifest(t, "exp",
      SnapStore.branchHead(t, "exp").get).files.map(_.path)
    SnapStore.expire(t, keepLast = 1)
    expFiles.foreach(p => assert(Files.exists(t.resolve(p)),
      s"branch-referenced $p must survive expiry"))
    assert(SnapStore.readBranch(spark, t, "exp").count() == n + 3)
    // Dropping the branch orphans its exclusive files; orphan
    // cleanup (Iceberg's remove_orphan_files) collects exactly them
    // and nothing referenced by live main/branch manifests.
    val exclusives = expFiles.filterNot(p =>
      SnapStore.currentManifest(t).files.exists(_.path == p))
    assert(exclusives.nonEmpty)
    SnapStore.dropBranch(t, "exp")
    assert(SnapStore.listBranches(t) == Seq("ingest"))
    // Explicit minAgeMs = 0: no writer is in flight here; the
    // DEFAULT is a conservative 3h so a production cleanup can never
    // race an in-flight append's just-staged files.
    val removed = SnapStore.removeOrphans(t, minAgeMs = 0L)
    assert(removed.toSet == exclusives.toSet,
      s"orphan cleanup must collect exactly the dropped branch's " +
        s"exclusive files: $removed vs $exclusives")
    exclusives.foreach(p => assert(!Files.exists(t.resolve(p))))
    assert(SnapStore.read(spark, t).count() == n + 7)
    assert(SnapStore.readBranch(spark, t, "ingest").count() == n + 7)
    // With pending deletes, branching refuses (a main-stamped delete
    // cannot scope against branch-local sequences).
    SnapStore.deleteEquality(spark, t,
      docs.limit(1).select("doc_id"), "doc_id")
    assert(intercept[IllegalArgumentException] {
      SnapStore.createBranch(t, "late")
    }.getMessage.contains("applyDeletes"))
  }

  test("typed partition bounds: a DATE-partitioned table prunes " +
    "merges natively, bounds stored as ISO strings") {
    val t = freshTable("datepart")
    val d = docs.withColumn("day",
      expr("date_add(DATE'2024-01-01', CAST((doc_id % 12) * 7 AS INT))"))
    SnapStore.create(spark, t, d, "day", numFiles = 6)
    val v1 = SnapStore.currentManifest(t)
    assert(v1.files.forall(f =>
      f.partMin.matches("2024-\\d{2}-\\d{2}") &&
        f.partMax.matches("2024-\\d{2}-\\d{2}")),
      s"date bounds must render ISO: ${v1.files.map(f => (f.partMin, f.partMax))}")
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap

    // Merge confined to one day (doc_id % 12 == 3 → 2024-01-22).
    val day = "2024-01-22"
    val ch = d.filter(col("day") === to_date(lit(day)))
      .withColumn("source", lit("dayfix"))
    assert(ch.count() > 0)
    SnapStore.merge(spark, t, ch, "doc_id", "day")
    val v2 = SnapStore.currentManifest(t)
    // ISO-string comparison IS chronological: files whose [min,max]
    // excludes the day carry untouched.
    val untouched = v1.files.filter(f => f.partMax < day || f.partMin > day)
    assert(untouched.nonEmpty, "fixture must give files outside the day")
    untouched.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path))
    }
    val after = SnapStore.read(spark, t)
    assert(after.count() == d.count())
    assert(after.filter(col("day") === to_date(lit(day)) &&
      col("source") =!= "dayfix").count() == 0)
    assert(after.filter(col("day") =!= to_date(lit(day)) &&
      col("source") === "dayfix").count() == 0)
  }

  test("refs log CAS: concurrent taggers never lose an update") {
    val t = freshTable("refscas")
    SnapStore.create(spark, t, docs.limit(10), "part")
    // More racing commits than the refs-log prune keeps (5), so a
    // writer's install can land in a slot a prune already recycled.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = (1 to 64).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = SnapStore.tag(t, s"tag$i", 1)
        })
      }
      futures.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val tags = SnapStore.tags(t)
    assert((1 to 64).forall(i => tags.get(s"tag$i").contains(1)),
      s"every concurrent tag must survive: $tags")
  }

  test("changelog read: appends are pure INSERTs, merges emit " +
    "DELETE+INSERT pairs, compaction nets zero, pending delete files " +
    "refuse") {
    val t = freshTable("cdc")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    val n = docs.count()
    // v2 append.
    val batch = docs.limit(6).withColumn("doc_id", col("doc_id") + 880000L)
    SnapStore.append(spark, t, batch, "part")
    // v3 merge: updates only (part 2, every third doc).
    val upd = docs.filter(col("part") === 2 && pmod(col("doc_id"), lit(3L)) === 2)
      .withColumn("text", concat(col("text"), lit(" cdc")))
    val nUpd = upd.count()
    assert(nUpd > 0)
    SnapStore.merge(spark, t, upd, "doc_id", "part")
    // v4 compaction: layout-only — the changelog must net ZERO.
    val total = SnapStore.currentManifest(t).files.map(_.bytes).sum
    SnapStore.compact(spark, t, "part", targetBytes = total / 2 + 1)

    val step2 = SnapStore.changelogRead(spark, t, 1, 2)
    assert(step2.filter(col("_change_type") === "INSERT").count() == 6)
    assert(step2.filter(col("_change_type") === "DELETE").count() == 0)

    val step3 = SnapStore.changelogRead(spark, t, 2, 3)
    assert(step3.filter(col("_change_type") === "INSERT").count() == nUpd)
    assert(step3.filter(col("_change_type") === "DELETE").count() == nUpd)
    assert(step3.filter(col("_change_type") === "INSERT" &&
      !col("text").endsWith(" cdc")).count() == 0)
    assert(step3.filter(col("_change_type") === "DELETE" &&
      col("text").endsWith(" cdc")).count() == 0)

    assert(SnapStore.changelogRead(spark, t, 3, 4).count() == 0,
      "compaction must net zero changes")
    // Whole range at once: same multiset.
    val full = SnapStore.changelogRead(spark, t, 1, 4)
    assert(full.count() == 6 + 2 * nUpd)
    assert(full.filter(col("_commit_version") === 2).count() == 6)
    // A MOR eq-delete commit NETS (r11): the manifest keys surface as
    // DELETE pre-images — no applyDeletes fold needed.
    val morKeys = docs.limit(2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    SnapStore.deleteEquality(spark, t,
      docs.limit(2).select("doc_id"), "doc_id")
    val mor = SnapStore.changelogRead(spark, t, 4, 5)
    assert(mor.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("DELETE"))
    assert(mor.select("doc_id").collect().map(_.getLong(0)).toSet == morKeys,
      "the eq-delete commit must net exactly its suppressed keys")
    assert(SnapStore.read(spark, t).count() == n + 6 - 2)
  }

  test("refs metadata table lists main, tags, and branch heads " +
    "through the catalog") {
    val dir = Files.createTempDirectory("graft-snapspec-refs")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.append(spark, t, docs.limit(2)
      .withColumn("doc_id", col("doc_id") + 990000L), "part")
    SnapStore.tag(t, "audit", 1)
    SnapStore.createBranch(t, "wip")
    SnapStore.appendToBranch(spark, t, "wip", docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 995000L), "part")
    spark.conf.set("spark.graft.catalog.dir.refsspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val rows = spark.sql(
      "SELECT name, type, version FROM graft.refsspec.docs.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(rows.toSeq == Seq(
      ("audit", "TAG", 1), ("main", "BRANCH", 2), ("wip", "BRANCH", 2)))
  }

  test("SQL DELETE FROM through the catalog commits a copy-on-write " +
    "predicate delete scoped to match-holding files; DROP COLUMN " +
    "narrows the schema metadata-only") {
    val dir = Files.createTempDirectory("graft-snapspec-dml")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    spark.conf.set("spark.graft.catalog.dir.dmlspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = docs.count()
    val nDel = docs.filter(col("part") === 5 && col("doc_id") >= 200L).count()
    assert(nDel > 0)

    spark.sql(
      "DELETE FROM graft.dmlspec.docs WHERE part = 5 AND doc_id >= 200")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "delete" && v2.version == 2)
    // Only files that HELD matching rows rewrote; the rest carried.
    val clean = v1.files.filter(f =>
      !(f.partMin.toLong <= 5 && 5 <= f.partMax.toLong))
    assert(clean.nonEmpty)
    clean.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path))
    }
    val after = spark.table("graft.dmlspec.docs")
    assert(after.count() == n - nDel)
    assert(after.filter(col("part") === 5 && col("doc_id") >= 200L)
      .count() == 0)

    // DROP COLUMN: metadata-only — same files, narrower schema.
    spark.sql("ALTER TABLE graft.dmlspec.docs DROP COLUMN source")
    val v3 = SnapStore.currentManifest(t)
    assert(v3.operation == "drop-column")
    assert(v3.files.map(_.path) == v2.files.map(_.path), "no data rewrite")
    assert(!v3.schema.fieldNames.contains("source"))
    val narrowed = spark.table("graft.dmlspec.docs")
    assert(!narrowed.columns.contains("source"))
    assert(narrowed.count() == n - nDel)
    // The partition column is protected.
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.dmlspec.docs DROP COLUMN part")
    }
    assert(e.getMessage.contains("partition column"))

    // INSERT INTO appends a snapshot through the catalog (V1Write).
    val nNow = n - nDel
    spark.sql(
      """INSERT INTO graft.dmlspec.docs
        |SELECT doc_id + 700000, part, text
        |FROM graft.dmlspec.docs WHERE doc_id < 50""".stripMargin)
    val v4 = SnapStore.currentManifest(t)
    assert(v4.operation == "append")
    val nIns = spark.table("graft.dmlspec.docs")
      .filter(col("doc_id") >= 700000L).count()
    assert(nIns > 0)
    assert(spark.table("graft.dmlspec.docs").count() == nNow + nIns)

    // INSERT OVERWRITE replaces the table contents in one snapshot.
    spark.sql(
      """INSERT OVERWRITE graft.dmlspec.docs
        |SELECT doc_id, part, text
        |FROM graft.dmlspec.docs WHERE part = 2""".stripMargin)
    val v5 = SnapStore.currentManifest(t)
    assert(v5.operation == "overwrite")
    val after5 = spark.table("graft.dmlspec.docs")
    assert(after5.filter(col("part") =!= 2).count() == 0)
    assert(after5.count() > 0)
    // Old contents still time-travel.
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.dmlspec.docs VERSION AS OF 4")
      .head().getLong(0) == nNow + nIns)
  }

  test("CALL graft.system procedures drive the maintenance family " +
    "through plain SQL") {
    val dir = Files.createTempDirectory("graft-snapspec-proc")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.append(spark, t, docs.limit(4)
      .withColumn("doc_id", col("doc_id") + 770000L), "part")
    spark.conf.set("spark.graft.catalog.dir.procspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = docs.count()

    // create_tag pins v1; rollback_to_snapshot undoes the append.
    val tag = spark.sql(
      "CALL graft.system.create_tag('procspec.docs', 'keep', 1)").head()
    assert((tag.getString(0), tag.getInt(1)) == ("keep", 1))
    val rb = spark.sql(
      "CALL graft.system.rollback_to_snapshot('procspec.docs', 1)").head()
    assert((rb.getInt(0), rb.getInt(1)) == (2, 3))
    assert(spark.table("graft.procspec.docs").count() == n)

    // rewrite_data_files compacts to one file (huge target).
    val rw = spark.sql(
      "CALL graft.system.rewrite_data_files('procspec.docs', 1000000000)")
      .head()
    assert(rw.getInt(0) == 4 && rw.getInt(1) == 1)
    assert(SnapStore.currentManifest(t).files.size == 1)
    assert(spark.table("graft.procspec.docs").count() == n)

    // expire_snapshots: tag-protected v1 survives, v2/v3 expire.
    val ex = spark.sql(
      "CALL graft.system.expire_snapshots('procspec.docs', 1)").head()
    assert(ex.getInt(0) == 2, s"expected v2+v3 expired, got $ex")
    assert(SnapStore.liveVersions(t) == Seq(1, 4))

    // create_branch + fast_forward through CALL.
    val cb = spark.sql(
      "CALL graft.system.create_branch('procspec.docs', 'wip')").head()
    assert((cb.getString(0), cb.getInt(1)) == ("wip", 4))
    SnapStore.appendToBranch(spark, t, "wip", docs.limit(2)
      .withColumn("doc_id", col("doc_id") + 775000L), "part")
    val ff = spark.sql(
      "CALL graft.system.fast_forward('procspec.docs', 'wip')").head()
    assert((ff.getString(0), ff.getInt(1)) == ("wip", 5))
    assert(spark.table("graft.procspec.docs").count() == n + 2)

    // apply_deletes folds a pending equality delete; orphan cleanup
    // finds nothing afterwards (everything is referenced or expired).
    SnapStore.deleteEquality(spark, t, docs.limit(3).select("doc_id"),
      "doc_id")
    val ad = spark.sql(
      "CALL graft.system.apply_deletes('procspec.docs')").head()
    assert(ad.getInt(0) == 7)
    assert(spark.table("graft.procspec.docs").count() == n + 2 - 3)
    val ro = spark.sql(
      "CALL graft.system.remove_orphan_files('procspec.docs', 0)").head()
    assert(ro.getInt(0) == 0, s"no orphans expected, got $ro")

    // rewrite_manifests through CALL: metadata-only no-op at this
    // size (inline table), version advances, contents identical.
    val rm = spark.sql(
      "CALL graft.system.rewrite_manifests('procspec.docs')").head()
    assert(rm.getInt(0) == SnapStore.currentVersion(t).get)
    assert(spark.table("graft.procspec.docs").count() == n + 2 - 3)

    // expire_snapshots_older_than with a future cutoff: everything
    // but the retained newest (and tag-protected v1) expires.
    val exo = spark.sql(
      "CALL graft.system.expire_snapshots_older_than('procspec.docs', " +
        s"${System.currentTimeMillis() + 3600 * 1000L}, 1)").head()
    assert(exo.getInt(0) > 0)
    assert(SnapStore.liveVersions(t) ==
      Seq(1, SnapStore.currentVersion(t).get))

    // Unknown procedure raises.
    val bad = intercept[Exception] {
      spark.sql("CALL graft.system.nope('x', 1)").collect()
    }
    assert(bad.getMessage.contains("nope"))

    // The discovery surfaces work too: SHOW PROCEDURES lists the
    // family, DESCRIBE resolves, and NAMED-argument CALL binds.
    val listed = spark.sql("SHOW PROCEDURES IN graft.system")
      .collect().map(_.getString(3)).toSet
    assert(Set("expire_snapshots", "expire_snapshots_older_than",
      "rewrite_data_files", "rewrite_manifests",
      "rollback_to_snapshot", "remove_orphan_files", "fast_forward",
      "create_tag", "create_branch", "apply_deletes").subsetOf(listed),
      s"missing procedures: $listed")
    assert(spark.sql("DESCRIBE PROCEDURE graft.system.create_tag")
      .collect().mkString.contains("create_tag"))
    val named = spark.sql(
      """CALL graft.system.create_tag(
        |  table => 'procspec.docs', tag => 'named', version => 1)""".stripMargin)
      .head()
    assert((named.getString(0), named.getInt(1)) == ("named", 1))
    assert(SnapStore.tags(t).get("named").contains(1))

    // Ref-level retention through CALL: with a far-future clock and a
    // 1 ms max ref age, every branch and tag ages out — the stale
    // branch drops and its exclusive files become orphans.
    spark.sql("CALL graft.system.create_branch('procspec.docs', 'stale')")
    val er = spark.sql("CALL graft.system.expire_refs('procspec.docs', " +
      s"${System.currentTimeMillis() + 86400000L}L, 1L, " +
      s"${Long.MaxValue}L, 1)").head()
    assert(er.getInt(0) >= 1, s"the stale branch must drop: $er")
    assert(er.getInt(1) >= 1, s"aged tags must drop: $er")
    assert(!SnapStore.listBranches(t).contains("stale"))
  }

  test("SQL UPDATE and MERGE INTO commit atomic replace snapshots " +
    "through the row-level-operation path") {
    val dir = Files.createTempDirectory("graft-snapspec-rlo")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    spark.conf.set("spark.graft.catalog.dir.rlospec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val n = docs.count()
    val nUpd = docs.filter(col("part") === 3).count()
    assert(nUpd > 0)
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap

    // UPDATE: matched rows rewritten, count preserved, one snapshot.
    spark.sql(
      "UPDATE graft.rlospec.docs SET text = concat(text, ' upd') WHERE part = 3")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "update" && v2.version == 2)
    val after = spark.table("graft.rlospec.docs")
    assert(after.count() == n)
    assert(after.filter(col("part") === 3 &&
      !col("text").endsWith(" upd")).count() == 0)
    assert(after.filter(col("part") =!= 3 &&
      col("text").endsWith(" upd")).count() == 0)
    // Runtime group filtering scoped the rewrite: files whose bounds
    // exclude partition 3 carried UNTOUCHED (same path, same mtime) —
    // a one-partition UPDATE costs that partition's files, not a
    // table rewrite.
    val clean1 = v1.files.filter(f =>
      !(f.partMin.toLong <= 3 && 3 <= f.partMax.toLong))
    assert(clean1.nonEmpty)
    clean1.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
        s"${f.path} must not be rewritten by a part-3 UPDATE")
    }
    // The rewrite's required distribution kept per-file partition
    // bounds tight and the old contents still time-travel.
    assert(v2.files.forall(f => f.partMin.toLong <= f.partMax.toLong))
    assert(SnapStore.read(spark, t, Some(1))
      .filter(col("text").endsWith(" upd")).count() == 0)

    // MERGE INTO: matched update + unmatched insert in ONE snapshot.
    docs.limit(5).withColumn("doc_id", col("doc_id") + 660000L)
      .withColumn("text", lit("merged new"))
      .unionByName(docs.filter(col("part") === 1).limit(3)
        .withColumn("text", lit("merged upd")))
      .createOrReplaceTempView("rlo_source")
    spark.sql(
      """MERGE INTO graft.rlospec.docs t
        |USING rlo_source s
        |ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET t.text = s.text
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val v3 = SnapStore.currentManifest(t)
    assert(v3.operation == "merge" && v3.version == 3)
    val merged = spark.table("graft.rlospec.docs")
    assert(merged.count() == n + 5)
    assert(merged.filter(col("text") === "merged new").count() == 5)
    assert(merged.filter(col("text") === "merged upd").count() == 3)
    // No staging debris; every live file is manifest-referenced.
    val stray = Files.list(dir.resolve("docs")).iterator().asScala
      .filter(_.getFileName.toString.startsWith(".rlo-tmp-")).toSeq
    assert(stray.isEmpty, s"staging left behind: $stray")
  }

  test("compaction survives partition-spec evolution: old-spec " +
    "string bounds never parse under the new numeric ordering") {
    val t = freshTable("compactevo")
    // v1 partitioned by a STRING column → string-rendered bounds.
    SnapStore.create(spark, t, docs, "source", numFiles = 4)
    // Evolve to a NUMERIC spec; old files keep their string bounds
    // tagged with the old spec (specCol) — the compaction sort must
    // not feed them to the numeric ordering (ADVICE r6 #2: s.toLong
    // over "srcX" threw, permanently breaking compaction).
    SnapStore.evolveSpec(t, "part")
    SnapStore.append(spark, t, docs.limit(50), "part")
    val before = SnapStore.currentManifest(t)
    assert(before.files.exists(f => f.specCol == "source") &&
      before.files.exists(f => f.specCol == "part"),
      "fixture must mix spec generations")
    val total = before.files.map(_.bytes).sum
    SnapStore.compact(spark, t, "part", targetBytes = total / 2 + 1)
    assert(SnapStore.read(spark, t).count() == docs.count() + 50)
  }

  test("SQL reads serve pending-MOR snapshots through the catalog: " +
    "equality + position deletes apply, fold restores the fast path") {
    val dir = Files.createTempDirectory("graft-snapspec-morsql")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    spark.conf.set("spark.graft.catalog.dir.morsqlspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id"),
      "doc_id")
    SnapStore.deletePositions(spark, t,
      col("part") === 2 && pmod(col("doc_id"), lit(5L)) === 0)
    assert(SnapStore.currentManifest(t).deleteFiles.nonEmpty)
    val expected = docs.filter(
      pmod(col("doc_id"), lit(13L)) =!= 0 &&
        !(col("part") === 2 && pmod(col("doc_id"), lit(5L)) === 0)).count()
    // SQL through the catalog — deletes PENDING — equals the API read
    // row for row, and equals the logical expectation.
    val viaSql = spark.sql(
      "SELECT doc_id, text FROM graft.morsqlspec.docs ORDER BY doc_id")
      .collect()
    val viaApi = SnapStore.read(spark, t)
      .select("doc_id", "text").orderBy("doc_id").collect()
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.length == expected)
    // Aggregates and filters compose on top of the bridged scan.
    assert(spark.sql("SELECT COUNT(*) FROM graft.morsqlspec.docs")
      .head.getLong(0) == expected)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.morsqlspec.docs WHERE part = 2")
      .head.getLong(0) ==
      docs.filter(col("part") === 2 &&
        pmod(col("doc_id"), lit(13L)) =!= 0 &&
        pmod(col("doc_id"), lit(5L)) =!= 0).count())
    // VERSION AS OF the pre-delete snapshot still serves everything.
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.morsqlspec.docs VERSION AS OF '1'")
      .head.getLong(0) == docs.count())
    // Native batch (r8): the pending-MOR SQL read plans as a real
    // DSv2 BatchScan with the translatable filters REPORTED as
    // pushed — codegen above an ordinary scan, no V1 RDD bridge
    // (VERDICT r7 #3).
    val morPlan = spark.sql(
      "SELECT doc_id FROM graft.morsqlspec.docs WHERE doc_id > 100")
      .queryExecution.executedPlan.toString
    assert(morPlan.contains("BatchScan"), morPlan)
    assert(morPlan.contains("graft-snap-native"), morPlan)
    assert(morPlan.contains("GreaterThan(doc_id,100)"), morPlan)
    assert(!morPlan.contains("ExistingRDD"), morPlan)
    // UPDATE while deletes are pending WORKS (Iceberg's COW-over-MOR
    // semantics): the replaced group reads delete-aware — a deleted
    // row is NOT resurrected by the rewrite — and the untouched
    // groups keep the pending delete set applying.
    spark.sql(
      "UPDATE graft.morsqlspec.docs SET text = 'morupd' WHERE part = 1")
    val vUpd = SnapStore.currentManifest(t)
    assert(vUpd.operation == "update" && vUpd.deleteFiles.nonEmpty,
      "the update must carry the pending delete set forward")
    val afterUpd = SnapStore.read(spark, t)
    assert(afterUpd.count() == expected, "no deleted row may resurrect")
    assert(afterUpd.filter(col("part") === 1 &&
      col("text") =!= "morupd").count() == 0)
    assert(afterUpd.filter(col("part") =!= 1 &&
      col("text") === "morupd").count() == 0)
    // Still suppressed for OTHER partitions too (delete set intact).
    assert(afterUpd.filter(pmod(col("doc_id"), lit(13L)) === 0 &&
      col("part") =!= 1).count() == 0)
    // A clean APPEND joins the pending-MOR table (its files outrank
    // every delete): filtered SQL reads now span a MIXED clean +
    // affected group set — the clean delegate receives the pushed
    // filters through the catalyst face, and the re-planned
    // partitions must resolve against the same stable group table
    // the cached reader factory was built from (r8 review).
    SnapStore.append(spark, t,
      docs.filter(col("part") === 2).limit(3)
        .withColumn("doc_id", col("doc_id") + 900000L), "part")
    val afterApp = expected + 3
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.morsqlspec.docs WHERE doc_id >= 900000")
      .head.getLong(0) == 3)
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.morsqlspec.docs").head.getLong(0)
      == afterApp)
    // …and a row-level UPDATE runtime-filters the mixed table to one
    // partition's groups (pre-filter factory, post-filter partitions).
    spark.sql(
      "UPDATE graft.morsqlspec.docs SET text = 'morupd3' WHERE part = 3")
    val after3 = SnapStore.read(spark, t)
    assert(after3.count() == afterApp)
    assert(after3.filter(col("part") === 3 &&
      col("text") =!= "morupd3").count() == 0)
    assert(after3.filter(pmod(col("doc_id"), lit(13L)) === 0 &&
      col("part") === 3 && col("doc_id") < 900000L).count() == 0,
      "a MOR-deleted part-3 row must not resurrect through the rewrite")
    // Fold: the catalog returns to the plain parquet path and agrees.
    SnapStore.applyDeletes(spark, t, "part")
    assert(spark.sql("SELECT COUNT(*) FROM graft.morsqlspec.docs")
      .head.getLong(0) == afterApp)
  }

  test("row-level COW scan over pending MOR deletes is native: zero " +
    "staging bytes planned, runtime group filter prunes to matched " +
    "files") {
    import graft.sources.{BridgedReadTable, SnapRowLevelOperation}
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft-snapspec-cownative")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id"),
      "doc_id")
    val cur = SnapStore.currentManifest(t)
    assert(cur.deleteFiles.nonEmpty)
    def stagingDirs(): Seq[String] = {
      val s = Files.list(t)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".cowread-tmp")).toSeq
      finally s.close()
    }
    // Drive the row-level operation's scan exactly as Spark's
    // group-based MERGE INTO planning does: build, runtime-filter to
    // one partition's group, then plan the batch.
    val rlo = new SnapRowLevelOperation(Command.MERGE,
      new BridgedReadTable("t", t, cur), t)
    val scan = rlo.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val pred = new Predicate("=",
      Array(Expressions.column("part"), Expressions.literal(2L)))
    scan.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(pred))
    val parts = scan.toBatch.planInputPartitions()
    // VERDICT r7 #1: the pending-MOR row-level scan stages NOTHING —
    // neither at toBatch (the old eager write-amplification soft
    // spot) nor at partition planning; pruned files cost zero bytes.
    assert(stagingDirs().isEmpty,
      s"native COW scan must not stage, found ${stagingDirs()}")
    // The batch covers exactly the group-filtered files (one
    // partition per affected file under pending eq deletes).
    val kept = SnapStore.prunedFiles(cur, Seq(2L))
    assert(parts.length == kept.size && parts.nonEmpty,
      s"expected ${kept.size} single-file partitions, got ${parts.length}")
    // Spark's BatchScanExec caches the reader factory from the PRE-
    // runtime-filter batch and executes the POST-filter batch's
    // partitions (two separate toBatch calls) — drain the post
    // partitions through the pre factory to prove the group-id table
    // is stable across instances (r8 review's dispatch hazard).
    val rlo2 = new SnapRowLevelOperation(Command.MERGE,
      new BridgedReadTable("t", t, cur), t)
    val scan2 = rlo2.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val factoryPre = scan2.toBatch.createReaderFactory()
    scan2.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(pred))
    val partsPost = scan2.toBatch.planInputPartitions()
    assert(partsPost.length == kept.size)
    var drained = 0L
    partsPost.foreach { p =>
      val r = factoryPre.createReader(p)
      try while (r.next()) { r.get(); drained += 1 } finally r.close()
    }
    val expectRows = SnapStore
      .readManifest(spark, t, cur.copy(files = kept)).count()
    assert(drained == expectRows,
      s"cross-batch read drained $drained rows, expected $expectRows")
  }

  test("pending delete rows ABOVE the old broadcast guard still read " +
    "through the native batch: no V1 bridge, no staging, tasks load " +
    "the delete set once per executor") {
    import graft.sources.{SnapDeleteCache, SnapStore => SS}
    val dir = Files.createTempDirectory("graft-snapspec-bigdel")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", numFiles = 6,
      keyCol = "doc_id")
    // Real deletes (every 13th doc) plus synthetic never-present keys
    // pushing the manifest's delete-row count past the old 4M cliff —
    // the size that used to force the shuffling V1 bridge and the
    // staging COW fallback.
    val pad = spark.range(SS.BroadcastDeleteRows + 100000)
      .select((col("id") + 100000000L).as("doc_id"))
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id")
        .unionAll(pad),
      "doc_id")
    val cur = SnapStore.currentManifest(t)
    assert(cur.deleteFiles.map(_.rows).sum > SS.BroadcastDeleteRows,
      "fixture must exceed the old broadcast guard")
    spark.conf.set("spark.graft.catalog.dir.bigdelspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val q = spark.sql("SELECT doc_id, text FROM graft.bigdelspec.docs")
    // The plan is a NATIVE BatchScan — no V1 RDD bridge, no shuffle,
    // no staging write (VERDICT r8 #1's Done bar).
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") &&
      plan.contains("graft-snap-native"), plan)
    assert(!plan.contains("ExistingRDD") && !plan.contains("Exchange"),
      plan)
    val loads0 = SnapDeleteCache.loads.get()
    assert(q.count() ==
      docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0).count())
    // 6 single-file partitions drained the same pending set: ONE
    // task-side load served them all (executor-wide single-flight
    // cache); a second query over the same snapshot loads nothing.
    val loads1 = SnapDeleteCache.loads.get()
    assert(loads1 - loads0 <= 1L,
      s"expected at most one delete-set load, got ${loads1 - loads0}")
    assert(spark.sql(
      "SELECT COUNT(*) FROM graft.bigdelspec.docs WHERE part = 2")
      .head.getLong(0) == docs.filter(col("part") === 2 &&
        pmod(col("doc_id"), lit(13L)) =!= 0).count())
    assert(SnapDeleteCache.loads.get() == loads1,
      "the second query must hit the executor-wide cache")
    // COW UPDATE over the above-guard pending set also stays native:
    // no staging dir appears and no deleted row resurrects.
    spark.sql(
      "UPDATE graft.bigdelspec.docs SET text = 'bigupd' WHERE part = 1")
    val stream = Files.list(t)
    val staged =
      try stream.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(".cowread-tmp")).toSeq
      finally stream.close()
    assert(staged.isEmpty, s"above-guard COW must not stage: $staged")
    val after = SnapStore.read(spark, t)
    assert(after.count() ==
      docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0).count())
    assert(after.filter(col("part") === 1 && col("text") =!= "bigupd")
      .count() == 0)
    assert(after.filter(pmod(col("doc_id"), lit(13L)) === 0).count() == 0,
      "no deleted row may resurrect through the above-guard rewrite")
  }

  test("widening the eq-delete key type mid-debt: pre- and post-widen " +
    "reads in one JVM keep separate key sets (cache keyed by type) " +
    "and both suppress correctly") {
    import org.apache.spark.sql.types.LongType
    val dir = Files.createTempDirectory("graft-snapspec-widenkey")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("tw")
    val base = spark.range(0, 300).selectExpr(
      "CAST(id AS INT) AS k", "id % 4 AS part", "CAST(id AS STRING) AS s")
    SnapStore.create(spark, t, base, "part", numFiles = 2)
    SnapStore.deleteEquality(spark, t,
      base.filter(col("k") % 11 === 0).select("k"), "k")
    val preV = SnapStore.currentVersion(t).get
    val expect = base.filter(col("k") % 11 =!= 0).count()
    // Pre-widen read loads the INT-typed key set into the cache.
    assert(SnapStore.read(spark, t).count() == expect)
    // Metadata-only widen of the DELETE KEY column while the delete
    // is pending (legal — no guard refuses it; the delete parquet
    // keeps int32 keys, reads upcast).
    SnapStore.widenColumn(t, "k", LongType)
    // Post-widen read probes with LONG values: without the key-TYPE
    // component in the delete-cache key, the cached Integer set would
    // be reused and every deleted row would resurface (review r9).
    val after = SnapStore.read(spark, t)
    assert(after.schema("k").dataType == LongType)
    assert(after.count() == expect,
      "post-widen read must still suppress the pending eq deletes")
    assert(after.filter(col("k") % 11 === 0).count() == 0)
    // The pre-widen snapshot still reads correctly too.
    assert(SnapStore.read(spark, t, Some(preV)).count() == expect)
  }

  test("binary-keyed equality deletes match by content, not array " +
    "identity") {
    val dir = Files.createTempDirectory("graft-snapspec-binkey")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("tb")
    val base = spark.range(0, 200).selectExpr(
      "CAST(CAST(id AS STRING) AS BINARY) AS bk", "id % 4 AS part",
      "id AS x")
    SnapStore.create(spark, t, base, "part", numFiles = 2)
    SnapStore.deleteEquality(spark, t,
      base.filter(col("x") % 7 === 0).select("bk"), "bk")
    // A raw Array[Byte] in a HashSet compares by identity — without
    // content-equality wrapping, no binary key would ever match and
    // the delete would silently no-op (review r9).
    val after = SnapStore.read(spark, t)
    assert(after.count() == base.filter(col("x") % 7 =!= 0).count(),
      "binary-keyed eq delete must suppress matching rows")
    assert(after.filter(col("x") % 7 === 0).count() == 0)
  }

  test("delete-set cache evicts least-recently-used past the weight " +
    "bound and tasks transparently reload") {
    import graft.sources.SnapDeleteCache
    val dir = Files.createTempDirectory("graft-snapspec-delcache")
    dir.toFile.deleteOnExit()
    // Two tables, each with its own pending eq-delete set → two
    // distinct cache entries.
    val ts = (0 to 1).map { i =>
      val t = dir.resolve(s"t$i")
      SnapStore.create(spark, t, docs, "part", numFiles = 2,
        keyCol = "doc_id")
      SnapStore.deleteEquality(spark, t,
        docs.filter(pmod(col("doc_id"), lit(7L + i)) === 0)
          .select("doc_id"), "doc_id")
      t
    }
    def readCount(t: java.nio.file.Path): Long = SnapStore.read(spark, t).count()
    val expected = ts.zipWithIndex.map { case (_, i) =>
      docs.filter(pmod(col("doc_id"), lit(7L + i)) =!= 0).count()
    }
    val boundBefore = SnapDeleteCache.MaxWeightBytes
    // Shrink the budget so ONE loaded set exceeds it: every table's
    // read evicts the other's entry.
    SnapDeleteCache.MaxWeightBytes = 1L
    try {
      val l0 = SnapDeleteCache.loads.get()
      assert(readCount(ts(0)) == expected(0))
      assert(readCount(ts(1)) == expected(1))
      // Back to table 0: its entry was evicted by table 1's load —
      // the task RELOADS (graceful degradation, never a wrong
      // answer), so the counter moves again.
      assert(readCount(ts(0)) == expected(0))
      val reloads = SnapDeleteCache.loads.get() - l0
      assert(reloads >= 3,
        s"expected eviction-driven reloads under a 1-byte budget, " +
          s"got $reloads loads")
    } finally SnapDeleteCache.MaxWeightBytes = boundBefore
    // With the budget restored, repeated reads hit the cache again.
    val l1 = SnapDeleteCache.loads.get()
    assert(readCount(ts(0)) == expected(0))
    assert(readCount(ts(0)) == expected(0))
    assert(SnapDeleteCache.loads.get() - l1 <= 1,
      "restored budget must cache across reads")
  }

  test("embedding (array) columns stay columnar under MOR debt: " +
    "affected rows bridge arrays task-side, values exact") {
    val dir = Files.createTempDirectory("graft-snapspec-morarr")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("embs")
    // An embeddings-shaped table: id, part, array<float> vector.
    val embs = spark.range(0, 400).selectExpr(
      "id AS doc_id", "id % 8 AS part",
      "transform(sequence(0, 7), j -> CAST(id * 10 + j AS FLOAT)) AS emb")
    SnapStore.create(spark, t, embs, "part", numFiles = 4,
      keyCol = "doc_id")
    SnapStore.deleteEquality(spark, t,
      embs.filter(col("doc_id") % 9 === 0).select("doc_id"), "doc_id")
    spark.conf.set("spark.graft.catalog.dir.morarrspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val q = spark.sql(
      "SELECT doc_id, emb FROM graft.morarrspec.embs ORDER BY doc_id")
    val rows = q.collect()
    // Executed (AQE-final) plan: the scan outputs columnar batches
    // and Spark plans its standard ColumnarToRow above.
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft-snap-native"), plan)
    assert(plan.contains("ColumnarToRow"),
      s"array columns must ride the columnar scan:\n$plan")
    assert(rows.length == 400 - embs.filter(col("doc_id") % 9 === 0).count())
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(id % 9 != 0, s"deleted doc $id resurfaced")
      val v = r.getSeq[Float](1)
      assert(v == (0 until 8).map(j => (id * 10 + j).toFloat),
        s"embedding of $id corrupted: $v")
    }
  }

  test("affected MOR files split like clean ones: one large file " +
    "plans multiple range partitions and position deletes apply " +
    "exactly once across splits") {
    import graft.sources.BridgedReadTable
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("graft-snapspec-morsplit")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    // ONE data file so the whole table is a single affected file.
    SnapStore.create(spark, t, docs, "part", numFiles = 1,
      keyCol = "doc_id")
    SnapStore.deletePositions(spark, t, pmod(col("doc_id"), lit(3L)) === 0)
    val cur = SnapStore.currentManifest(t)
    assert(cur.files.size == 1 && cur.deleteFiles.nonEmpty)
    val fileBytes = cur.files.head.bytes
    val expected = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0).count()
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(key)
    spark.conf.set(key, (fileBytes / 4).max(1L).toString)
    try {
      val scan = new BridgedReadTable("t", t, cur)
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.length >= 4,
        s"a ${fileBytes}B affected file under a ${fileBytes / 4}B split " +
          s"bound must plan >=4 range partitions, got ${parts.length}")
      // Every row arrives exactly once and every deleted ordinal is
      // suppressed exactly once — an off-by-one in per-split row
      // indexing would surface as a count drift either way.
      spark.conf.set("spark.graft.catalog.dir.morsplitspec", dir.toString)
      if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
        spark.conf.set("spark.sql.catalog.graft",
          "graft.sources.GraftCatalog")
      assert(spark.sql("SELECT COUNT(*) FROM graft.morsplitspec.docs")
        .head.getLong(0) == expected)
      assert(spark.sql(
        "SELECT COUNT(*) FROM graft.morsplitspec.docs WHERE doc_id % 3 = 0")
        .head.getLong(0) == 0L)
    } finally spark.conf.set(key, before)
  }

  test("pending MOR debt keeps clean files vectorized: the native " +
    "scan is columnar, affected rows bridge task-side") {
    val dir = Files.createTempDirectory("graft-snapspec-morcol")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", numFiles = 6,
      keyCol = "doc_id")
    // ONE deleted row: before r9 this de-vectorized the whole scan —
    // every clean file paid row-based reads for one row of debt.
    val victim = docs.orderBy("doc_id").limit(1)
    SnapStore.deleteEquality(spark, t, victim.select("doc_id"), "doc_id")
    assert(SnapStore.currentManifest(t).deleteFiles.nonEmpty)
    spark.conf.set("spark.graft.catalog.dir.morcolspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val q = spark.sql(
      "SELECT doc_id, text FROM graft.morcolspec.docs WHERE doc_id > 10")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft-snap-native"), plan)
    // The scan node outputs COLUMNAR batches (clean files = delegate
    // vectorized parquet; the one affected file bridges its folded
    // rows) — Spark plans its standard ColumnarToRow above, exactly
    // like a plain vectorized parquet read.
    assert(plan.contains("ColumnarToRow"), plan)
    assert(q.count() ==
      docs.filter(col("doc_id") > 10).count() -
        victim.filter(col("doc_id") > 10).count())
    // Row-for-row agreement with the programmatic read.
    val viaSql = spark.sql(
      "SELECT doc_id, text FROM graft.morcolspec.docs ORDER BY doc_id")
      .collect()
    val viaApi = SnapStore.read(spark, t)
      .select("doc_id", "text").orderBy("doc_id").collect()
    assert(viaSql.toSeq == viaApi.toSeq)
  }

  test("RENAME COLUMN + widening are metadata-only: old files read " +
    "through the evolution log, pruning and DML follow the new name") {
    val dir = Files.createTempDirectory("graft-snapspec-renw")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    val base0 = docs.withColumn("tok",
      expr("CAST(size(split(text, ' ')) AS INT)"))
    SnapStore.create(spark, t, base0, "part", keyCol = "doc_id")
    spark.conf.set("spark.graft.catalog.dir.renwspec", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val sumTok = base0.agg(sum(col("tok").cast("long"))).head.getLong(0)

    spark.sql("ALTER TABLE graft.renwspec.docs RENAME COLUMN tok TO n_tok")
    spark.sql("ALTER TABLE graft.renwspec.docs ALTER COLUMN n_tok TYPE BIGINT")
    val v3 = SnapStore.currentManifest(t)
    assert(v3.version == 3 && v3.operation == "widen-column")
    assert(v3.evos.map(e => (e.kind, e.col)) ==
      Seq(("rename", "tok"), ("widen", "n_tok")))
    // Pure metadata: same files, untouched bytes.
    assert(v3.files.map(_.path) == v1.files.map(_.path))
    v3.files.foreach(f => assert(
      Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
      s"${f.path} must not be rewritten by metadata evolution"))
    assert(v3.schema("n_tok").dataType == LongType)
    // Old files serve their as-written int column under the new
    // name and type, values intact — API and catalog SQL agree.
    val after = SnapStore.read(spark, t)
    assert(after.schema("n_tok").dataType == LongType)
    assert(after.agg(sum("n_tok")).head.getLong(0) == sumTok)
    assert(spark.sql("SELECT SUM(n_tok) FROM graft.renwspec.docs")
      .head.getLong(0) == sumTok)
    // Time travel still serves the OLD shape.
    val old = SnapStore.read(spark, t, Some(1))
    assert(old.schema.fieldNames.contains("tok") &&
      !old.schema.fieldNames.contains("n_tok"))
    // Appends land natively typed; mixed old/new files read together.
    spark.sql(
      """INSERT INTO graft.renwspec.docs
        |SELECT doc_id + 900000, part, 'srcE', text, n_tok
        |FROM graft.renwspec.docs WHERE doc_id % 50 = 1""".stripMargin)
    val nIns = docs.filter(pmod(col("doc_id"), lit(50L)) === 1).count()
    assert(spark.sql("SELECT COUNT(*) FROM graft.renwspec.docs")
      .head.getLong(0) == docs.count() + nIns)
    // COW merge under the new name: bound pruning still bites (the
    // rename migrated the manifest's key/spec tags, not the values).
    val v4 = SnapStore.currentManifest(t)
    val mt4 = v4.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap
    val changes = SnapStore.read(spark, t).filter(col("part") === 6)
      .limit(3).withColumn("text", lit("renamed upd"))
    SnapStore.merge(spark, t, changes, "doc_id", "part")
    val v5 = SnapStore.currentManifest(t)
    val clean = v4.files.filter(f =>
      !(f.partMin.toLong <= 6 && 6 <= f.partMax.toLong))
    assert(clean.nonEmpty)
    clean.foreach { f =>
      assert(v5.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mt4(f.path))
    }
    assert(SnapStore.read(spark, t)
      .filter(col("text") === "renamed upd").count() == 3)
    // SQL UPDATE on the EVOLVED table routes through the
    // materialized manifest-aware scan (plain parquet would read the
    // renamed column as null and destroy data): every value
    // survives, exactly the matched rows change.
    val sumBefore = SnapStore.read(spark, t)
      .agg(sum("n_tok")).head.getLong(0)
    val nPart2 = SnapStore.read(spark, t)
      .filter(col("part") === 2).count()
    spark.sql(
      "UPDATE graft.renwspec.docs SET n_tok = n_tok + 1 WHERE part = 2")
    assert(SnapStore.read(spark, t).agg(sum("n_tok")).head.getLong(0) ==
      sumBefore + nPart2,
      "update must increment exactly the matched rows, losing none")
    val cowDebris = Files.list(t).iterator().asScala
      .filter(_.getFileName.toString.startsWith(".cowread-tmp-")).toSeq
    assert(cowDebris.isEmpty, s"scan staging left behind: $cowDebris")
    // Guards: non-widening change and colliding rename refuse.
    intercept[IllegalArgumentException](
      SnapStore.widenColumn(t, "n_tok",
        org.apache.spark.sql.types.IntegerType))
    intercept[IllegalArgumentException](
      SnapStore.renameColumn(t, "n_tok", "part"))
  }

  test("predicate probes pre-prune by manifest bounds: a one-" +
    "partition DELETE opens only that partition's files") {
    val t = freshTable("preprune")
    SnapStore.create(spark, t, docs, "part")
    val v1 = SnapStore.currentManifest(t)
    val cond = col("part") === 2 && pmod(col("doc_id"), lit(7L)) === 1
    // The probe candidate set IS the bounds-intersecting subset.
    val cands = SnapStore.probeCandidates(spark, v1, cond)
    val p2 = v1.files.filter(f =>
      f.partMin.toLong <= 2 && 2 <= f.partMax.toLong)
    assert(cands.map(_.path).toSet == p2.map(_.path).toSet)
    assert(cands.size < v1.files.size,
      s"fixture must have prunable files: ${cands.size} of ${v1.files.size}")
    // IN-lists prune; literal-on-the-left prunes; non-partition
    // predicates keep everything (conservative, never wrong).
    assert(SnapStore.probeCandidates(spark, v1,
      col("part").isin(1L, 2L)).map(_.path).toSet ==
      v1.files.filter(f => Seq(1L, 2L).exists(p =>
        f.partMin.toLong <= p && p <= f.partMax.toLong)).map(_.path).toSet)
    assert(SnapStore.probeCandidates(spark, v1, lit(2L) === col("part"))
      .map(_.path).toSet == p2.map(_.path).toSet)
    assert(SnapStore.probeCandidates(spark, v1,
      pmod(col("doc_id"), lit(7L)) === 1).size == v1.files.size)
    // End-to-end: the pruned probe deletes exactly the matches.
    val nDel = docs.filter(cond).count()
    assert(nDel > 0)
    SnapStore.deleteWhere(spark, t, cond)
    val after = SnapStore.read(spark, t)
    assert(after.count() == docs.count() - nDel)
    assert(after.filter(cond).count() == 0)
  }

  test("runtime group filtering prunes hidden-partition specs: a " +
    "one-day SQL UPDATE on a days(d) table carries other days' files") {
    val dir = Files.createTempDirectory("graft-snapspec-rlodays")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("events")
    val df = docs.withColumn("d",
      expr("date_add(DATE'2024-01-01', CAST(pmod(doc_id, 5) AS INT))"))
    SnapStore.create(spark, t, df, "days(d)", keyCol = "doc_id")
    spark.conf.set("spark.graft.catalog.dir.rlodays", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val v1 = SnapStore.currentManifest(t)
    val mtimes = v1.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap

    spark.sql("UPDATE graft.rlodays.events SET text = concat(text, ' upd') " +
      "WHERE d = DATE'2024-01-03'")
    val v2 = SnapStore.currentManifest(t)
    assert(v2.operation == "update")
    // Files whose TRANSFORMED (epoch-day) bounds exclude the updated
    // day carried untouched — the group filter evaluated the days()
    // transform on the runtime literals (VERDICT r6 task #6).
    val day = java.time.LocalDate.parse("2024-01-03").toEpochDay
    val clean = v1.files.filter(f =>
      !(f.partMin.toLong <= day && day <= f.partMax.toLong))
    assert(clean.nonEmpty, s"fixture must give prunable day files: " +
      v1.files.map(f => (f.partMin, f.partMax)))
    clean.foreach { f =>
      assert(v2.files.exists(_.path == f.path), s"${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
        s"${f.path} must not be rewritten by a one-day UPDATE")
    }
    // Correctness: exactly the day's rows updated.
    val after = SnapStore.read(spark, t)
    assert(after.count() == df.count())
    assert(after.filter(col("d") === to_date(lit("2024-01-03")) &&
      !col("text").endsWith(" upd")).count() == 0)
    assert(after.filter(col("d") =!= to_date(lit("2024-01-03")) &&
      col("text").endsWith(" upd")).count() == 0)
  }

  test("metadata stays bounded under long commit chains: expiry " +
    "prunes the manifest log, the refs log keeps a constant window") {
    val t = freshTable("metabound")
    SnapStore.create(spark, t, docs.limit(40), "part", numFiles = 2)
    // A long chain of small commits — the shape of a steady CDC
    // trickle — grows one manifest per commit (plus a refs sequence
    // per tag move).
    (1 to 12).foreach { i =>
      SnapStore.append(spark, t, docs.limit(2), "part", numFiles = 1)
      SnapStore.tag(t, "latest", SnapStore.currentVersion(t).get)
    }
    assert(SnapStore.liveVersions(t).size == 13)
    def snapMeta(prefix: String): Int = {
      val stream = Files.list(t.resolve("_snapshots"))
      try stream.iterator().asScala
        .count(_.getFileName.toString.startsWith(prefix))
      finally stream.close()
    }
    // The refs log self-prunes on every CAS to a constant trailing
    // window (5) — it never grows with the commit chain.
    assert(snapMeta("refs.v") <= 6,
      s"refs log must stay bounded: ${snapMeta("refs.v")} sequences")
    // Move the tag off the protected tail, then expire: the manifest
    // log folds to exactly keepLast + protected — metadata scale is
    // bounded by retention, not by table age.
    SnapStore.tag(t, "latest", 12)
    SnapStore.expire(t, keepLast = 3)
    assert(SnapStore.liveVersions(t) == Seq(11, 12, 13),
      s"live: ${SnapStore.liveVersions(t)}")
    assert(snapMeta("v") == 3,
      s"manifest log must fold to keepLast: ${snapMeta("v")} files")
    // Contents survive: the current snapshot reads everything.
    assert(SnapStore.read(spark, t).count() == 40 + 12 * 2)
    // The `.manifests` metadata table (Iceberg's table.manifests)
    // lists exactly the LIVE manifest files with their file counts.
    spark.conf.set("spark.graft.catalog.dir.metab", t.getParent.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val mrows = spark.sql(
      """SELECT version, length, data_files, delete_files, operation
        |FROM graft.metab.t.manifests ORDER BY version""".stripMargin)
      .collect()
    assert(mrows.map(_.getInt(0)).toSeq == Seq(11, 12, 13))
    assert(mrows.forall(r => r.getLong(1) > 0 && r.getInt(3) == 0))
    assert(mrows.last.getString(4) == "append")
  }

  test("evolution guards: bucket-source widening, reused pre-rename " +
    "names, and abandoned staging dirs are all refused or swept") {
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField}
    // 1) Widening the source of a bucket(n,col) spec refuses: Murmur3
    //    hashes int and long differently, so stored bucket bounds
    //    would mis-prune after the widen (ADVICE r8 high).
    val tb = freshTable("bucketwiden")
    val typed = docs.withColumn("k32", col("doc_id").cast("int"))
    SnapStore.create(spark, tb, typed, "bucket(4,k32)")
    val e1 = intercept[IllegalArgumentException] {
      SnapStore.widenColumn(tb, "k32", LongType)
    }
    assert(e1.getMessage.contains("bucket"))
    // Widening a NON-spec column of the same table still works.
    val tb2 = freshTable("identwiden")
    SnapStore.create(spark, tb2, typed, "part")
    SnapStore.widenColumn(tb2, "k32", LongType)
    assert(SnapStore.currentManifest(tb2).schema("k32").dataType == LongType)
    // 2) Reusing a renamed column's OLD name refuses while pre-rename
    //    files are live (readSchemaFor would produce duplicate
    //    fields), and unlocks after a full rewrite.
    val tr = freshTable("renreuse")
    SnapStore.create(spark, tr, docs, "part")
    SnapStore.renameColumn(tr, "source", "src")
    val e2 = intercept[IllegalArgumentException] {
      SnapStore.addColumn(tr, StructField("source", IntegerType))
    }
    assert(e2.getMessage.contains("as-written name"))
    val e3 = intercept[IllegalArgumentException] {
      SnapStore.renameColumn(tr, "text", "source")
    }
    assert(e3.getMessage.contains("as-written name"))
    SnapStore.rewriteClustered(spark, tr, "part", Seq(col("doc_id")))
    SnapStore.addColumn(tr, StructField("source", IntegerType))
    assert(SnapStore.currentManifest(tr).schema.fieldNames.contains("source"))
    // 3) removeOrphans sweeps abandoned dot-prefixed staging dirs at
    //    the table root (a cancelled query leaks them; nothing else
    //    collects them — ADVICE r8 low).
    val ts = freshTable("tmpsweep")
    SnapStore.create(spark, ts, docs, "part")
    val leaked = ts.resolve(".cowread-tmp-999-deadbeef")
    Files.createDirectories(leaked)
    Files.writeString(leaked.resolve("part-0.parquet"), "x")
    val fresh = ts.resolve(".write-tmp-999-cafebabe")
    Files.createDirectories(fresh)
    // An old dir is swept; a fresh one (simulating in-flight) is kept.
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10L * 3600 * 1000)
    Files.setLastModifiedTime(leaked, old)
    val removed = SnapStore.removeOrphans(ts, minAgeMs = 3600 * 1000L)
    assert(removed.contains(".cowread-tmp-999-deadbeef"))
    assert(!Files.exists(leaked) && Files.exists(fresh))
    assert(SnapStore.read(spark, ts).count() == docs.count())
  }

  test("split manifests: an append to a many-file table writes " +
    "metadata proportional to the touched group, untouched groups " +
    "carry by reference, and expiry folds dead groups") {
    val dir = Files.createTempDirectory("graft-snapspec-mflist")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    def snapBytes(v: Int): Long =
      Files.size(t.resolve("_snapshots").resolve(f"v$v%05d.manifest"))
    def mfFiles(): Map[String, Long] = {
      val s = Files.list(t.resolve("_snapshots"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("mf-"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      finally s.close()
    }
    // ~96 deliberately fragmented files: above the inline threshold,
    // so v1 commits as a manifest list.
    SnapStore.create(spark, t, docs, "part", numFiles = 96,
      clusterExprs = Seq(col("part"), col("doc_id")))
    val v1 = SnapStore.currentManifest(t)
    assert(v1.files.size > 64, s"fixture too small: ${v1.files.size} files")
    val mf1 = mfFiles()
    assert(mf1.nonEmpty && v1.groups.map(_._1).toSet == mf1.keySet)
    val groupBytes = mf1.values.sum
    // The 1-row append: metadata writes must be proportional to the
    // TOUCHED group (the one new file's entries), not the table
    // (VERDICT r7 #2 done-criterion).
    SnapStore.append(spark, t, docs.limit(1), "part", numFiles = 1)
    val v2 = SnapStore.currentManifest(t)
    assert(v2.files.size == v1.files.size + 1)
    val mf2 = mfFiles()
    val fresh = mf2.keySet -- mf1.keySet
    assert(fresh.size == 1,
      s"append must write exactly one new group, wrote $fresh")
    assert(mf1.keySet.subsetOf(mf2.keySet),
      "untouched groups must carry by reference, not rewrite")
    val appendMetaBytes = fresh.toSeq.map(mf2).sum + snapBytes(2)
    assert(appendMetaBytes < groupBytes / 4,
      s"append wrote $appendMetaBytes metadata bytes vs $groupBytes " +
        "for the full file section — not proportional to the touched group")
    // Order and contents survive the round-trip (flatten == files).
    assert(v2.files == v2.groups.flatMap(_._2))
    assert(SnapStore.read(spark, t).count() == docs.count() + 1)
    // A merge rewrites only the groups whose entries it removed.
    val before = mfFiles().keySet
    SnapStore.merge(spark, t,
      docs.filter(col("part") === 3 && pmod(col("doc_id"), lit(7L)) === 0)
        .withColumn("text", concat(col("text"), lit(" upd"))),
      "doc_id", "part")
    val v3 = SnapStore.currentManifest(t)
    assert(v3.files == v3.groups.flatMap(_._2))
    val carried = v3.groups.map(_._1).toSet.intersect(before)
    assert(carried.nonEmpty, "a partition-scoped merge must carry " +
      "untouched groups by reference")
    // rewrite_manifests rebalances into even fresh groups —
    // metadata-only (files identical), incremental/stream-legal.
    val rw = SnapStore.rewriteManifests(t, targetEntries = 20)
    assert(rw.operation == "rewrite-manifests")
    val v4 = SnapStore.currentManifest(t)
    assert(v4.files == v3.files, "rewrite_manifests must not touch files")
    assert(v4.groups.size == (v4.files.size + 19) / 20,
      s"expected even ~20-entry groups, got ${v4.groups.map(_._2.size)}")
    assert(v4.groups.map(_._1).toSet.intersect(v3.groups.map(_._1).toSet)
      .isEmpty, "rebalanced groups must be fresh files")
    // Expiry deletes the group files only dead snapshots referenced
    // and keeps every live-referenced one; the head still reads.
    SnapStore.expire(t, keepLast = 1)
    val mfLive = mfFiles().keySet
    assert(mfLive == v4.groups.map(_._1).toSet,
      s"expiry must fold dead groups: live $mfLive vs ${v4.groups.map(_._1)}")
    assert(SnapStore.read(spark, t).count() ==
      SnapStore.currentManifest(t).files.map(_.rows).sum)
  }

  test("age-based expiry: snapshots committed before the cutoff " +
    "expire, tagged and newest ones survive") {
    val t = freshTable("ageexp")
    SnapStore.create(spark, t, docs.limit(20), "part", numFiles = 2)
    (1 to 4).foreach { i =>
      SnapStore.append(spark, t, docs.limit(2)
        .withColumn("doc_id", col("doc_id") + lit(i * 1000L)), "part",
        numFiles = 1)
    }
    SnapStore.tag(t, "keepme", 2)
    // Backdate v1-v3's commit instants — the `instant=` field stamped
    // into the manifest body (NOT the mtime: expiry reads the stamped
    // instant so a copied/restored warehouse keeps true commit times).
    val oldMs = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    (1 to 3).foreach { v =>
      val p = t.resolve("_snapshots").resolve(f"v$v%05d.manifest")
      val rewritten = Files.readAllLines(p).asScala.map { l =>
        if (l.startsWith("instant=")) s"instant=$oldMs" else l
      }.mkString("", "\n", "\n")
      Files.writeString(p, rewritten)
    }
    val (expired, _) = SnapStore.expireOlderThan(t,
      System.currentTimeMillis() - 7L * 24 * 3600 * 1000, retainLast = 1)
    // v1 and v3 expire (older than the cutoff); v2 is tag-protected,
    // v4/v5 are newer than the cutoff.
    assert(expired == Seq(1, 3), s"expired $expired")
    assert(SnapStore.liveVersions(t) == Seq(2, 4, 5))
    assert(SnapStore.read(spark, t).count() == 28)
    intercept[IllegalArgumentException] { SnapStore.manifest(t, 1) }
    // The tag still time-travels.
    assert(SnapStore.resolveVersion(t, "keepme") == 2)
  }

  test("commit instant is stamped in the manifest body: mtime " +
    "perturbation (copy/restore) changes neither committed_at nor " +
    "age-based expiry") {
    val t = freshTable("instant")
    SnapStore.create(spark, t, docs.limit(10), "part", numFiles = 1)
    SnapStore.append(spark, t, docs.limit(2)
      .withColumn("doc_id", col("doc_id") + lit(9000L)), "part",
      numFiles = 1)
    val before = (1 to 2).map(v => SnapStore.commitInstantMs(t, v))
    assert(before.forall(i =>
      math.abs(i - System.currentTimeMillis()) < 10L * 60 * 1000),
      "stamped instants must be the real commit times")
    // Simulate a restore/rsync: every manifest's mtime jumps 30 days
    // back. The stamped instant must win over the perturbed mtime.
    val fake = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 30L * 24 * 3600 * 1000)
    (1 to 2).foreach { v =>
      Files.setLastModifiedTime(
        t.resolve("_snapshots").resolve(f"v$v%05d.manifest"), fake)
    }
    assert((1 to 2).map(v => SnapStore.commitInstantMs(t, v)) == before,
      "committed_at must survive mtime perturbation")
    // Age-based expiry honors the stamped instant: a cutoff of
    // now-7d expires NOTHING even though every mtime reads 30d old.
    val (expired, _) = SnapStore.expireOlderThan(t,
      System.currentTimeMillis() - 7L * 24 * 3600 * 1000, retainLast = 1)
    assert(expired.isEmpty,
      s"restored warehouse must not expire fresh snapshots: $expired")
    assert(SnapStore.liveVersions(t) == Seq(1, 2))
    // Legacy fallback: a manifest WITHOUT the field (pre-r9) reports
    // its mtime.
    val p = t.resolve("_snapshots").resolve(f"v${1}%05d.manifest")
    Files.writeString(p, Files.readAllLines(p).asScala
      .filterNot(_.startsWith("instant=")).mkString("", "\n", "\n"))
    Files.setLastModifiedTime(p, fake)
    assert(SnapStore.commitInstantMs(t, 1) == fake.toMillis,
      "legacy manifests fall back to mtime")
  }

  test("manifest-group cache is an access-ordered LRU: recently " +
    "used groups stay cached past the size cap") {
    val t = freshTable("grpcache")
    val snapDir = t.resolve("_snapshots")
    Files.createDirectories(snapDir)
    val n = SnapStore.GroupCacheMax + 96
    def gname(i: Int) = f"mf-lruspec$i%04d"
    (0 until n).foreach { i =>
      Files.writeString(snapDir.resolve(gname(i)),
        s"file=data/f$i.parquet\tp\tp\t1\t100\t\t1\t\t\n")
    }
    // Cold pass fills the cache; the cap holds.
    (0 until n).foreach(i => SnapStore.readGroup(t, gname(i)))
    assert(SnapStore.groupCacheSize <= SnapStore.GroupCacheMax)
    // The most recently read GroupCacheMax/2 groups must ALL be
    // warm: every re-read is a cache hit (an LRU keeps the recent
    // tail; the old wholesale clear would miss most of them).
    val recent = (n - SnapStore.GroupCacheMax / 2) until n
    val h0 = SnapStore.groupCacheHits.get()
    recent.foreach(i => SnapStore.readGroup(t, gname(i)))
    assert(SnapStore.groupCacheHits.get() - h0 == recent.size.toLong,
      "recently-used groups must survive eviction")
  }

  test("split manifests under racing appends: losers retry, their " +
    "staged groups never leak, every on-disk group is referenced") {
    val dir = Files.createTempDirectory("graft-snapspec-mfrace")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", numFiles = 96,
      clusterExprs = Seq(col("part"), col("doc_id")))
    val base = SnapStore.currentManifest(t)
    assert(base.files.size > 64)
    // Four racing appenders on the SPLIT commit path: exactly one
    // wins each version; losers re-commit against the new current.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            SnapStore.append(spark, t,
              docs.limit(2).withColumn("doc_id",
                col("doc_id") + lit(800000L + i * 1000L)), "part",
              numFiles = 1)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val cur = SnapStore.currentManifest(t)
    assert(cur.version == base.version + 4)
    assert(cur.files.size == base.files.size + 4)
    assert(SnapStore.read(spark, t).count() == docs.count() + 8)
    // Every mf-* group file on disk is referenced by a LIVE version —
    // a losing attempt's staged groups were deleted on the spot.
    val referenced = SnapStore.liveVersions(t)
      .map(SnapStore.manifest(t, _))
      .flatMap(_.groups.map(_._1)).toSet
    val onDisk = {
      val s = Files.list(t.resolve("_snapshots"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("mf-")).toSet
      finally s.close()
    }
    assert(onDisk == referenced,
      s"unreferenced group files leaked: ${onDisk -- referenced}")
  }

  test("programmatic COW over pending MOR deletes: merge reads " +
    "delete-aware, carries the unfolded delete set exactly, and " +
    "never resurrects suppressed rows") {
    val t = freshTable("cowovermor")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    // v2: MOR equality delete of every fifth doc — stays PENDING.
    val delKeys = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select("doc_id")
    SnapStore.deleteEquality(spark, t, delKeys, "doc_id")
    val pending = SnapStore.currentManifest(t).deleteFiles
    assert(pending.nonEmpty)
    // v3: COW MERGE confined to partition 2, with the deletes pending
    // (VERDICT r7 #6 — previously refused with "run applyDeletes").
    val changes = docs
      .filter(col("part") === 2 && pmod(col("doc_id"), lit(3L)) === 0)
      .withColumn("text", concat(col("text"), lit(" upd")))
    SnapStore.merge(spark, t, changes, "doc_id", "part")
    val v3 = SnapStore.currentManifest(t)
    // The unfolded delete set carries EXACTLY (same files, same
    // sequence scoping) — a lost or re-stamped delete would change it.
    assert(v3.deleteFiles == pending)
    // Expected contents, computed logically: deletes suppress every
    // doc_id % 5 == 0 row of the base; the merge then removes matched
    // keys and inserts its change rows (an upsert re-inserts a
    // previously deleted key).
    val changeKeys = changes.select(col("doc_id").as("__k"))
    val expected = docs
      .filter(pmod(col("doc_id"), lit(5L)) =!= 0)
      .join(changeKeys, col("doc_id") === col("__k"), "left_anti")
      .select(docs.columns.map(col): _*)
      .unionByName(changes)
    val got = SnapStore.read(spark, t)
    assert(got.count() == expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // A deleted key OUTSIDE the change set stays gone; a deleted key
    // the merge re-inserted is served again (its new file outranks
    // the pending delete by sequence).
    val resurrected = changes.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .select("doc_id").limit(1).collect()
    resurrected.foreach { r =>
      assert(got.filter(col("doc_id") === r.getLong(0)).count() == 1)
    }
    assert(got.filter(
      pmod(col("doc_id"), lit(5L)) === 0 && col("part") =!= 2).count() == 0)
    // applyDeletes still folds cleanly afterwards; contents unchanged.
    SnapStore.applyDeletes(spark, t, "part")
    assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
    val folded = SnapStore.read(spark, t)
    assert(folded.exceptAll(expected).isEmpty &&
      expected.exceptAll(folded).isEmpty)
  }

  test("equality-delete key writes are distributed: a large key set " +
    "lands as multiple manifest-listed delete parts that reads fold " +
    "together") {
    val t = freshTable("edelparts")
    SnapStore.create(spark, t, docs, "part")
    val n = docs.count()
    val delKeys = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .select("doc_id")
    val nDel = delKeys.count()
    // The write keeps the upstream parallelism — AQE partition
    // coalescing is the only thing folding a small key set into one
    // part. Disable it for the write so the multi-part path is
    // exercised deterministically (VERDICT r7 #4: above the size
    // guard, keys land multi-part like position deletes).
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val before = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try SnapStore.deleteEquality(spark, t, delKeys, "doc_id")
    finally spark.conf.set(coalesceKey, before)
    val m = SnapStore.currentManifest(t)
    assert(m.deleteFiles.size > 1,
      s"expected multi-part delete files, got ${m.deleteFiles.size}")
    assert(m.deleteFiles.forall(d => d.kind == "eq" &&
      d.keyCol == "doc_id" && d.seq == m.version))
    assert(m.deleteFiles.map(_.rows).sum == nDel)
    // Reads fold ALL parts: every even doc suppressed, odd docs kept.
    val read = SnapStore.read(spark, t)
    assert(read.count() == n - nDel)
    assert(read.filter(pmod(col("doc_id"), lit(2L)) === 0).count() == 0)
  }

  test("fast-forward on a split table is metadata-proportional: " +
    "main's untouched groups carry by reference, only the branch's " +
    "delta lands in fresh groups") {
    val dir = Files.createTempDirectory("graft-snapspec-ffprop")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", numFiles = 96,
      clusterExprs = Seq(col("part"), col("doc_id")))
    // Force a SPLIT grouping under main (the initial create lands as
    // one 96-entry group; rebalance into many so carry-by-reference
    // is observable).
    SnapStore.rewriteManifests(t, targetEntries = 8)
    val main = SnapStore.currentManifest(t)
    assert(main.groups.size >= 10, s"fixture: ${main.groups.size} groups")
    def mfFiles(): Map[String, Long] = {
      val s = Files.list(t.resolve("_snapshots"))
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("mf-"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
      finally s.close()
    }
    SnapStore.createBranch(t, "ingest")
    SnapStore.appendToBranch(spark, t, "ingest",
      docs.limit(2).withColumn("doc_id", col("doc_id") + 800000L),
      "part", numFiles = 1)
    val before = mfFiles()
    val ff = SnapStore.fastForward(t, "ingest")
    assert(ff.operation == "fast-forward-ingest")
    val cur = SnapStore.currentManifest(t)
    // Every main group carries BY REFERENCE (same named group files);
    // the only new group files hold the branch's 1-file delta — the
    // VERDICT r8 #5 bound: no new group larger than the branch delta.
    val newGroups = mfFiles().keySet -- before.keySet
    val carried = cur.groups.map(_._1).toSet
      .intersect(main.groups.map(_._1).toSet)
    assert(carried == main.groups.map(_._1).toSet,
      s"all ${main.groups.size} main groups must carry by reference, " +
        s"carried ${carried.size}")
    val newEntryCount = cur.groups.filter(g => newGroups(g._1))
      .map(_._2.size).sum
    assert(newEntryCount == 1,
      s"fresh groups must hold exactly the branch delta (1 file), " +
        s"got $newEntryCount entries in ${newGroups.size} groups")
    // Sequence semantics hold: a post-FF equality delete suppresses
    // matching rows in ADOPTED branch files too (their seq is below
    // the delete's).
    assert(SnapStore.read(spark, t).count() == docs.count() + 2)
    SnapStore.deleteEquality(spark, t,
      spark.range(800000L, 800000L + 1000000L).select(col("id").as("doc_id")),
      "doc_id")
    assert(SnapStore.read(spark, t)
      .filter(col("doc_id") >= 800000L).count() == 0,
      "a post-FF eq delete must apply to adopted branch files")
  }

  test("branch chains on a split table are metadata-proportional: " +
    "the fork carries main's groups by reference, branch appends " +
    "write only their delta, dropped branches' groups sweep") {
    val dir = Files.createTempDirectory("graft-snapspec-brsplit")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("docs")
    SnapStore.create(spark, t, docs, "part", numFiles = 96,
      clusterExprs = Seq(col("part"), col("doc_id")))
    SnapStore.rewriteManifests(t, targetEntries = 8)
    val main = SnapStore.currentManifest(t)
    assert(main.groups.size >= 10)
    def mfFiles(): Set[String] = {
      val s = Files.list(t.resolve("_snapshots"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("mf-")).toSet
      finally s.close()
    }
    val preFork = mfFiles()
    SnapStore.createBranch(t, "work")
    // The fork writes ZERO group bytes: branch v1 references main's
    // group files (r9; previously it inlined the full file list).
    assert(mfFiles() == preFork, "a fork must write no group files")
    val bv1 = SnapStore.branchManifest(t, "work", 1)
    assert(bv1.groups.map(_._1) == main.groups.map(_._1))
    assert(bv1.files == main.files)
    // A branch append carries untouched groups by reference and puts
    // exactly its delta in fresh groups.
    SnapStore.appendToBranch(spark, t, "work",
      docs.limit(2).withColumn("doc_id", col("doc_id") + 810000L),
      "part", numFiles = 1)
    val afterApp = mfFiles()
    val bv2 = SnapStore.branchManifest(t, "work", 2)
    assert(bv2.groups.map(_._1).toSet.intersect(main.groups.map(_._1).toSet)
      == main.groups.map(_._1).toSet,
      "branch append must carry main groups by reference")
    val freshEntries = bv2.groups
      .filterNot(g => preFork(g._1)).map(_._2.size).sum
    assert(freshEntries == 1,
      s"branch append delta must be 1 entry, got $freshEntries")
    // Branch reads serve the full split chain.
    assert(SnapStore.readBranch(spark, t, "work").count() ==
      docs.count() + 2)
    // Dropping the branch leaves its exclusive groups orphaned; the
    // sweep collects them and ONLY them — main still reads.
    SnapStore.dropBranch(t, "work")
    SnapStore.removeOrphans(t, minAgeMs = 0)
    assert(mfFiles() == preFork,
      "branch-exclusive groups must sweep, main groups must survive")
    assert(SnapStore.read(spark, t).count() == docs.count())
  }

  test("rewrite_delete_files merges pending delete parquets " +
    "metadata-only: data files untouched, pos deletes merge across " +
    "commits, eq deletes merge only within one sequence") {
    val t = freshTable("rdel")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    // Two pos-delete commits + one multi-part eq commit + one later
    // single-part eq commit: the compaction must merge the two pos
    // files (refs union), merge the same-seq eq parts, and leave the
    // lone later eq file alone (cross-seq merging would corrupt
    // sequence scoping).
    SnapStore.deletePositions(spark, t,
      col("part") === 1 && pmod(col("doc_id"), lit(5L)) === 0)
    SnapStore.deletePositions(spark, t,
      col("part") === 2 && pmod(col("doc_id"), lit(7L)) === 0)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val before0 = spark.conf.get(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    try SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0).select("doc_id"),
      "doc_id")
    finally spark.conf.set(coalesceKey, before0)
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id"),
      "doc_id")
    val pre = SnapStore.currentManifest(t)
    val prePos = pre.deleteFiles.filter(_.kind == "pos")
    val preEqBySeq = pre.deleteFiles.filter(_.kind == "eq").groupBy(_.seq)
    assert(prePos.size == 2, s"fixture: ${prePos.size} pos files")
    assert(preEqBySeq.exists(_._2.size > 1),
      "fixture must hold a multi-part eq commit")
    val loneEqSeq = preEqBySeq.filter(_._2.size == 1).keys.toSeq
    val expected = SnapStore.read(spark, t).collect().toSeq.sortBy(_.toString)

    val m = SnapStore.rewriteDeleteFiles(spark, t)
    assert(m.operation == "rewrite-deletes")
    // Metadata-only for the DATA: same files, same entries.
    assert(m.files == pre.files, "compaction must not touch data files")
    // Pos files merged to one, refs = union of the originals'.
    val pos = m.deleteFiles.filter(_.kind == "pos")
    assert(pos.size == 1, s"expected 1 merged pos file, got ${pos.size}")
    assert(pos.head.refs.toSet == prePos.flatMap(_.refs).toSet)
    assert(pos.head.rows == prePos.map(_.rows).sum)
    // Eq: the multi-part commit merged under ITS OWN seq; the later
    // single-file commit carried untouched.
    val eqBySeq = m.deleteFiles.filter(_.kind == "eq").groupBy(_.seq)
    assert(eqBySeq.forall(_._2.size == 1),
      s"every eq seq must hold one file after merge: $eqBySeq")
    loneEqSeq.foreach { s =>
      assert(eqBySeq(s) == preEqBySeq(s),
        "an already-single eq commit must carry byte-identical")
    }
    // Contents identical before/after (the merge lost nothing and
    // resurrected nothing), still through the PENDING-delete path.
    assert(m.deleteFiles.nonEmpty)
    val after = SnapStore.read(spark, t).collect().toSeq.sortBy(_.toString)
    assert(after == expected)
    // Nothing mergeable anymore: a second call is a no-op (no commit).
    val m2 = SnapStore.rewriteDeleteFiles(spark, t)
    assert(m2.version == m.version, "no-op compaction must not commit")
    // applyDeletes still folds the merged debt cleanly.
    SnapStore.applyDeletes(spark, t, "part")
    assert(SnapStore.currentManifest(t).deleteFiles.isEmpty)
    val folded = SnapStore.read(spark, t).collect().toSeq.sortBy(_.toString)
    assert(folded == expected)
  }

  test("delete-aware compaction: rewritten bins fold applicable " +
    "deletes, carried single-file bins stay byte-identical, dead " +
    "delete files retire, still-applicable ones stay pending") {
    val t = freshTable("cmor")
    // v1: two base files. v2: eq delete of every 3rd doc (seq 2,
    // applies to the v1 files). v3: ONE big appended file holding
    // every doc re-keyed +400000 (seq 3 — the eq delete never
    // applies). v4: pos delete of every 7th appended row (refs = the
    // big file). v5: pos delete of part-2 base rows (refs = a v1
    // file).
    SnapStore.create(spark, t, docs, "part", numFiles = 2,
      keyCol = "doc_id")
    SnapStore.deleteEquality(spark, t,
      docs.filter(pmod(col("doc_id"), lit(3L)) === 0).select("doc_id"),
      "doc_id")
    val app = docs.withColumn("doc_id", col("doc_id") + 400000L)
      .withColumn("source", lit("srcA"))
    SnapStore.append(spark, t, app, "part", numFiles = 1)
    SnapStore.deletePositions(spark, t,
      col("source") === "srcA" && pmod(col("doc_id"), lit(7L)) === 1)
    SnapStore.deletePositions(spark, t,
      col("source") =!= "srcA" && col("part") === 2 &&
        pmod(col("doc_id"), lit(5L)) === 0)
    val pre = SnapStore.currentManifest(t)
    val v1Files = pre.files.filter(_.path.contains("base-v1"))
    val bigFile = pre.files.find(_.path.contains("append")).get
    assert(v1Files.size == 2 && bigFile.seq == 3)
    assert(v1Files.forall(_.bytes < bigFile.bytes),
      "fixture: the appended file must outweigh either base half")
    val preEq = pre.deleteFiles.filter(_.kind == "eq")
    val prePos = pre.deleteFiles.filter(_.kind == "pos")
    assert(preEq.nonEmpty && prePos.size >= 2)
    val bigMtime = Files.getLastModifiedTime(t.resolve(bigFile.path))
    val expected = SnapStore.read(spark, t).collect().toSeq
      .sortBy(_.toString)

    // Target = the combined v1 footprint: the big file (first in
    // partition order, heavier than either half) bins alone and
    // carries; the v1 files pack together and rewrite delete-free.
    val m = SnapStore.compact(spark, t, "part",
      targetBytes = v1Files.map(_.bytes).sum)
    assert(m.operation == "compact")
    // Carried byte-identical: same path, same entry, untouched mtime.
    assert(m.files.exists(_ == bigFile),
      "the big single-file bin must carry its manifest entry verbatim")
    assert(Files.getLastModifiedTime(t.resolve(bigFile.path)) == bigMtime,
      "the carried file must not be rewritten")
    // Both v1 files rewritten.
    v1Files.foreach(f => assert(!m.files.exists(_.path == f.path),
      s"${f.path} must be rewritten"))
    // Retirement: the eq delete (no carried file below its seq) and
    // the v1-referencing pos delete are gone; the big-file pos
    // delete stays pending.
    assert(m.deleteFiles.forall(_.kind == "pos"),
      s"the equality delete must retire: ${m.deleteFiles}")
    assert(m.deleteFiles.size == 1 &&
      m.deleteFiles.head.refs == Seq(bigFile.path.split('/').last),
      s"only the big-file pos delete may stay: ${m.deleteFiles}")
    // Rewritten bins are delete-free: reading ONLY the rewritten
    // files under a delete-less manifest equals reading them through
    // the pending set (nothing left to suppress there).
    val rewritten = m.files.filterNot(_ == bigFile)
    val plain = SnapStore.readManifest(spark, t,
      m.copy(files = rewritten, deleteFiles = Seq.empty))
    assert(plain.filter(pmod(col("doc_id"), lit(3L)) === 0).count() == 0,
      "eq-deleted rows must be folded out of the rewritten bins")
    assert(plain.filter(col("part") === 2 &&
      pmod(col("doc_id"), lit(5L)) === 0).count() == 0,
      "pos-deleted base rows must be folded out of the rewritten bins")
    // Contents identical before/after — folding lost nothing and
    // resurrected nothing, and the carried file still reads through
    // its pending position delete.
    val after = SnapStore.read(spark, t).collect().toSeq
      .sortBy(_.toString)
    assert(after == expected)
    assert(SnapStore.read(spark, t)
      .filter(col("source") === "srcA" &&
        pmod(col("doc_id"), lit(7L)) === 1).count() == 0,
      "the pending pos delete must keep suppressing carried-file rows")
  }

  test("ref-level retention: an aged-out branch drops and its " +
    "exclusive files orphan-collect, a kept branch trims to the " +
    "fork point plus min-snapshots-to-keep, tags age out") {
    val t = freshTable("bret")
    SnapStore.create(spark, t, docs, "part")
    SnapStore.tag(t, "oldtag", 1)
    SnapStore.createBranch(t, "stale")
    SnapStore.appendToBranch(spark, t, "stale",
      docs.filter(pmod(col("doc_id"), lit(23L)) === 0)
        .withColumn("doc_id", col("doc_id") + 500000L)
        .withColumn("source", lit("srcS")), "part", numFiles = 1)
    SnapStore.createBranch(t, "keep")
    (1L to 3L).foreach { k =>
      SnapStore.appendToBranch(spark, t, "keep",
        docs.filter(pmod(col("doc_id"), lit(29L)) === k)
          .withColumn("doc_id", col("doc_id") + 600000L + k * 10000L)
          .withColumn("source", lit(s"srcK$k")), "part", numFiles = 1)
    }
    val staleFile = SnapStore
      .branchManifest(t, "stale", SnapStore.branchHead(t, "stale").get)
      .files.find(_.path.contains("brappend-stale")).get.path
    val keepExpected = SnapStore.readBranch(spark, t, "keep")
      .count()
    val mainExpected = SnapStore.read(spark, t).count()

    // Per-ref age 0 for `stale` and `oldtag`; default effectively
    // infinite; aggressive snapshot age with min-keep 2.
    val (droppedB, droppedT, trimmed) = SnapStore.expireRefs(t,
      nowMs = System.currentTimeMillis() + 60000L,
      defaultMaxRefAgeMs = Long.MaxValue / 2,
      maxSnapshotAgeMs = 0L,
      minSnapshotsToKeep = 2,
      maxRefAgeOverrides = Map("stale" -> 0L, "oldtag" -> 0L))
    assert(droppedB == Seq("stale"), s"stale must drop: $droppedB")
    assert(droppedT == Seq("oldtag"), s"oldtag must age out: $droppedT")
    assert(SnapStore.listBranches(t) == Seq("keep"))
    assert(SnapStore.tags(t).isEmpty)
    // keep trimmed to fork point + newest 2 of [1,2,3,4].
    assert(SnapStore.branchVersions(t, "keep") == Seq(1, 3, 4),
      s"trim must keep fork + newest 2: ${SnapStore.branchVersions(t, "keep")}")
    assert(trimmed == Map("keep" -> Seq(2)))
    intercept[IllegalArgumentException] {
      SnapStore.branchManifest(t, "keep", 2)
    }
    // The dropped branch's exclusive file orphan-collects; the kept
    // branch and main read intact afterwards.
    val collected = SnapStore.removeOrphans(t, minAgeMs = 0L)
    assert(collected.contains(staleFile),
      s"stale's exclusive file must collect: $collected")
    assert(!Files.exists(t.resolve(staleFile)))
    assert(SnapStore.readBranch(spark, t, "keep").count() == keepExpected)
    assert(SnapStore.read(spark, t).count() == mainExpected)
    // Appends to the trimmed branch still work (the fork-point
    // manifest the seq stamping resolves against is protected).
    SnapStore.appendToBranch(spark, t, "keep",
      docs.filter(pmod(col("doc_id"), lit(29L)) === 4)
        .withColumn("doc_id", col("doc_id") + 700000L)
        .withColumn("source", lit("srcK4")), "part", numFiles = 1)
    assert(SnapStore.readBranch(spark, t, "keep")
      .filter(col("source") === "srcK4").count() > 0)
    // A second pass with nothing aged is a no-op.
    val (d2, t2, m2) = SnapStore.expireRefs(t,
      nowMs = System.currentTimeMillis(),
      defaultMaxRefAgeMs = Long.MaxValue / 2)
    assert(d2.isEmpty && t2.isEmpty && m2.isEmpty)
  }

  test("Z-order rewrite tightens per-file spans on BOTH interleaved " +
    "columns; a lexicographic rewrite only tightens its leading key") {
    val t = freshTable("zord")
    val b = docs
      .withColumn("x", pmod(col("doc_id") * 2654435761L + 11L, lit(256L)))
      .withColumn("y", pmod(col("doc_id"), lit(256L)))
    SnapStore.create(spark, t, b, "part", numFiles = 8)
    def avgSpans(): (Double, Double) = {
      val r = SnapStore.read(spark, t)
        .select(col("x"), col("y"), col("_metadata.file_name").as("f"))
        .groupBy(col("f"))
        .agg((max(col("x")) - min(col("x"))).as("sx"),
          (max(col("y")) - min(col("y"))).as("sy"))
        .agg(avg(col("sx")), avg(col("sy"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val (preX, preY) = avgSpans()
    val expected = SnapStore.read(spark, t).collect().toSeq
      .sortBy(_.toString)

    val m = SnapStore.rewriteZOrdered(spark, t, "part", Seq("x", "y"),
      numFiles = 32, bits = 8)
    assert(m.operation == "rewrite-sorted")
    val (postX, postY) = avgSpans()
    // 32 files over 8 partitions = two z-splits per partition: the
    // curve alternates significance, so BOTH dimensions' per-file
    // spans must shrink materially vs the partition-only layout.
    assert(postX < preX * 0.75,
      s"x span must tighten: $preX -> $postX")
    assert(postY < preY * 0.75,
      s"y span must tighten: $preY -> $postY")
    // Layout-only: exactly the same rows.
    val after = SnapStore.read(spark, t).collect().toSeq
      .sortBy(_.toString)
    assert(after == expected)
  }

  test("filtered compaction rewrites only predicate-matching files " +
    "(out-of-scope mtimes unchanged) and delete retirement stays " +
    "correct under the partial rewrite") {
    val t = freshTable("cfil")
    SnapStore.create(spark, t, docs, "part", numFiles = 32,
      clusterExprs = Seq(col("part"), pmod(col("doc_id"), lit(4L))),
      keyCol = "doc_id")
    // MOR debt on BOTH sides of the predicate: an equality delete
    // whose keys live in part 5 (OUT of scope — its files carry, so
    // it must survive and keep applying) and a position delete on
    // part 1 (IN scope — its referenced files all rewrite
    // delete-aware, so it retires while its rows stay suppressed).
    SnapStore.deleteEquality(spark, t,
      docs.filter(col("part") === 5 && pmod(col("doc_id"), lit(9L)) === 0)
        .select(col("doc_id")), "doc_id")
    SnapStore.deletePositions(spark, t,
      col("part") === 1 && pmod(col("doc_id"), lit(7L)) === 0)
    val before = SnapStore.currentManifest(t)
    assert(before.deleteFiles.exists(_.kind == "eq") &&
      before.deleteFiles.exists(_.kind == "pos"), "fixture needs both kinds")
    val expected = SnapStore.read(spark, t)
      .groupBy(col("part")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mtimes = before.files.map(f =>
      f.path -> Files.getLastModifiedTime(t.resolve(f.path))).toMap

    val total = before.files.map(_.bytes).sum
    SnapStore.compact(spark, t, "part", targetBytes = total,
      where = Some(col("part") <= 2))
    val after = SnapStore.currentManifest(t)

    // Every file whose bounds sit entirely outside the predicate
    // carries under its original path, byte-identical (same mtime).
    val outside = before.files.filter(_.partMin.toLong > 2)
    assert(outside.nonEmpty, "fixture must have out-of-scope files")
    outside.foreach { f =>
      assert(after.files.exists(_.path == f.path),
        s"out-of-scope ${f.path} must carry")
      assert(Files.getLastModifiedTime(t.resolve(f.path)) == mtimes(f.path),
        s"out-of-scope ${f.path} must not be rewritten")
    }
    // In-scope files bin-packed.
    assert(after.files.count(_.partMin.toLong <= 2) <
      before.files.count(_.partMin.toLong <= 2),
      "in-scope files must bin-pack")
    // Delete retirement under the PARTIAL rewrite: the out-of-scope
    // equality delete survives (carried lower-seq files remain), the
    // in-scope position delete retires (every referenced file was
    // rewritten delete-aware).
    assert(after.deleteFiles.exists(_.kind == "eq"),
      "eq delete scoped to carried files must survive")
    assert(!after.deleteFiles.exists(_.kind == "pos"),
      "pos delete over fully-rewritten files must retire")
    // Contents identical, suppression preserved on both sides.
    val got = SnapStore.read(spark, t)
      .groupBy(col("part")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"contents changed: $got vs $expected")
  }

  test(".all_files, .entries, and .metadata_log_entries metadata " +
    "tables: retention set spans branches, entry statuses track " +
    "added/existing/deleted, the version log reports the live chain") {
    val dir = Files.createTempDirectory("graft-metatables")
    dir.toFile.deleteOnExit()
    val t = dir.resolve("t")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")      // v1
    SnapStore.append(spark, t,
      docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
        .withColumn("doc_id", col("doc_id") + 800000L), "part")      // v2
    SnapStore.createBranch(t, "side")
    SnapStore.appendToBranch(spark, t, "side",
      docs.filter(pmod(col("doc_id"), lit(23L)) === 0)
        .withColumn("doc_id", col("doc_id") + 900000L), "part")
    // v3: COW delete replaces part-1 files — .entries must report the
    // replacements ADDED, the carried files EXISTING, and the
    // replaced part-1 files DELETED.
    SnapStore.deleteWhere(spark, t,
      col("part") === 1 && pmod(col("doc_id"), lit(5L)) === 0)
    val v2 = SnapStore.manifest(t, 2)
    val v3 = SnapStore.currentManifest(t)

    spark.conf.set("spark.graft.catalog.dir.metat", dir.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")

    // .entries against the manifests directly.
    val entries = spark.table("graft.metat.t.entries").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val curPaths = v3.files.map(_.path).toSet
    val added = entries.filter(e => e._1 == 1 && e._2 == 0).map(_._3).toSet
    val existing = entries.filter(e => e._1 == 0 && e._2 == 0).map(_._3).toSet
    val deleted = entries.filter(_._1 == 2).map(_._3).toSet
    assert(added == v3.files.filter(_.seq == 3).map(_.path).toSet,
      "ADDED = files this commit wrote")
    assert(existing == v3.files.filter(_.seq < 3).map(_.path).toSet,
      "EXISTING = carried files")
    assert(deleted == v2.files.map(_.path).toSet.diff(curPaths),
      "DELETED = parent files the commit replaced")
    assert(deleted.nonEmpty, "the COW delete must have replaced files")

    // A MOR equality delete commit (v4) surfaces as an ADDED
    // content=2 entry while every data file reads EXISTING.
    SnapStore.deleteEquality(spark, t,
      docs.filter(col("part") === 2 && pmod(col("doc_id"), lit(11L)) === 0)
        .select(col("doc_id")), "doc_id")
    val e4 = spark.table("graft.metat.t.entries").collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(e4.exists(e => e._1 == 1 && e._2 == 2),
      "the eq-delete file must report ADDED with content=2")
    assert(e4.filter(_._2 == 0).forall(_._1 != 1),
      "a delete-file commit adds no data files")

    // .all_files: the branch's exclusive files are in the retention
    // set but not the current snapshot; replaced part-1 files stay
    // (older snapshots still reference them).
    val afRows = spark.table("graft.metat.t.all_files").collect()
    // The retention set includes the PENDING MOR delete parquet
    // (content=2) — an orphan sweep keyed off this surface must
    // never delete it.
    val afDel = afRows.filter(_.getInt(7) == 2)
    assert(afDel.nonEmpty && afDel.forall(_.getBoolean(5)),
      "pending eq-delete parquets must be in the retention set, current")
    val af = afRows.filter(_.getInt(7) == 0)
      .map(r => (r.getString(0), r.getBoolean(5), r.getInt(6))).toSeq
    val afPaths = af.map(_._1).toSet
    assert(curPaths.subsetOf(afPaths), "all_files must cover the current set")
    assert(deleted.subsetOf(afPaths),
      "files older snapshots reference must stay in the retention set")
    val branchOnly = af.filter(!_._2).map(_._1).toSet
    assert(deleted.subsetOf(branchOnly))
    assert(branchOnly.exists(p => !deleted(p)),
      "the branch's exclusive files must be in the set, not current")
    assert(af.filter(f => curPaths(f._1) && v3.files
        .exists(x => x.path == f._1 && x.seq == 1)).forall(_._3 >= 3),
      "v1 files are referenced by v1, v2, v3 (and the branch fork)")

    // .metadata_log_entries: the live chain, stamped instants, head.
    val log = spark.table("graft.metat.t.metadata_log_entries").collect()
      .map(r => (r.getInt(2), r.getString(3), r.getBoolean(4)))
    assert(log.map(_._1).toSeq.sorted == SnapStore.liveVersions(t),
      "one row per live version")
    assert(log.filter(_._3).map(_._1).toSeq ==
      Seq(SnapStore.currentManifest(t).version), "head flagged once")
    assert(log.find(_._1 == 4).exists(_._2 == "delete-mor"),
      "operations ride the log")
  }

  test("changelog nets MOR delete commits without a fold: eq keys " +
    "and pos ordinals surface as DELETE pre-images, stacked eq debt " +
    "never re-emits, a MOR merge nets DELETE+INSERT, pos-over-eq " +
    "refuses") {
    val t = freshTable("clmor")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")      // v1
    // v2: eq-delete commit (part 6, every 7th doc).
    val delKeys = docs.filter(col("part") === 6 &&
      pmod(col("doc_id"), lit(7L)) === 0)
    SnapStore.deleteEquality(spark, t, delKeys.select(col("doc_id")),
      "doc_id")
    val cl12 = SnapStore.changelogRead(spark, t, 1, 2)
    assert(cl12.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("DELETE"))
    assert(cl12.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      delKeys.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
      "eq netting must emit exactly the suppressed pre-images")

    // v3: SECOND eq-delete commit overlapping v2's keys plus fresh
    // ones — already-suppressed keys must NOT re-emit.
    val del2 = docs.filter(col("part") === 6 &&
      pmod(col("doc_id"), lit(14L)) === 0)                      // ⊂ v2 keys
      .unionByName(docs.filter(col("part") === 4 &&
        pmod(col("doc_id"), lit(7L)) === 0))
    SnapStore.deleteEquality(spark, t, del2.select(col("doc_id")), "doc_id")
    val cl23 = SnapStore.changelogRead(spark, t, 2, 3)
    val got23 = cl23.select("doc_id").collect().map(_.getLong(0)).toSet
    val fresh23 = docs.filter(col("part") === 4 &&
      pmod(col("doc_id"), lit(7L)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got23 == fresh23,
      s"stacked eq debt must net only the newly-suppressed keys")

    // v4: MOR MERGE — updated keys net as DELETE(old)+INSERT(new).
    val upd = docs.filter(col("part") === 2 &&
      pmod(col("doc_id"), lit(10L)) === 0)
      .withColumn("text", concat(col("text"), lit(" upd")))
    SnapStore.mergeEquality(spark, t, upd, "doc_id")
    val cl34 = SnapStore.changelogRead(spark, t, 3, 4)
    val byType = cl34.groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nUpd = upd.count()
    assert(byType.get("DELETE").contains(nUpd) &&
      byType.get("INSERT").contains(nUpd),
      s"a MOR merge must net DELETE+INSERT pairs: $byType vs $nUpd")
    assert(cl34.filter(col("_change_type") === "INSERT")
      .collect().forall(_.getAs[String]("text").endsWith(" upd")))

    // Pos-over-eq stays refused loudly (ordinal read would need a
    // delete-aware scan that keeps ordinals).
    SnapStore.deletePositions(spark, t,
      col("part") === 3 && pmod(col("doc_id"), lit(9L)) === 0)  // v5
    val e = intercept[Exception](
      SnapStore.changelogRead(spark, t, 4, 5).collect())
    assert(e.getMessage.contains("applyDeletes"), e.getMessage)

    // Pos-on-pos nets: fold everything, then two pos commits; the
    // second's changelog emits only ITS new pairs.
    val t2 = freshTable("clmor2")
    SnapStore.create(spark, t2, docs, "part", keyCol = "doc_id")   // v1
    SnapStore.deletePositions(spark, t2,
      col("part") === 5 && pmod(col("doc_id"), lit(6L)) === 0)    // v2
    SnapStore.deletePositions(spark, t2,
      col("part") === 5 && pmod(col("doc_id"), lit(3L)) === 0)    // v3: ⊃ v2
    val p12 = SnapStore.changelogRead(spark, t2, 1, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val p23 = SnapStore.changelogRead(spark, t2, 2, 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all6 = docs.filter(col("part") === 5 &&
      pmod(col("doc_id"), lit(6L)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all3 = docs.filter(col("part") === 5 &&
      pmod(col("doc_id"), lit(3L)) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(p12 == all6, "first pos commit nets its pairs")
    assert(p23 == all3.diff(all6),
      "second pos commit nets only pairs the first didn't already hold")
  }

  test("registered lifecycle is idempotent: re-running entries " +
    "re-reads the same final snapshots") {
    val a = ops.Maintenance.mergeUpsert(spark, sf).collect()
    val b = ops.Maintenance.mergeUpsert(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    val c = ops.Maintenance.schemaEvolution(spark, sf).collect()
    val d = ops.Maintenance.schemaEvolution(spark, sf).collect()
    assert(c.toSeq == d.toSeq)
    val e = ops.Maintenance.deleteRows(spark, sf).collect()
    val f = ops.Maintenance.deleteRows(spark, sf).collect()
    assert(e.toSeq == f.toSeq)
    val g = ops.Maintenance.snapshotLog(spark, sf).collect()
    val h = ops.Maintenance.snapshotLog(spark, sf).collect()
    assert(g.toSeq == h.toSeq)
  }
}
