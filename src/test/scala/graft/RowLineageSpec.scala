package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapStore

/** Iceberg v3 row lineage: `_row_id` / `_last_updated_sequence_number`
  * metadata columns. File-level first-row-ids assign at commit (the
  * v3 inheritance scheme — a row's id is `first_row_id + _pos`, no
  * per-row storage), ids stay STABLE across compaction (the rewrite
  * materializes them into the new files), and the last-updated
  * sequence bumps exactly on the commits that rewrote a row.
  */
class RowLineageSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf).select(
    col("doc_id"),
    pmod(col("doc_id"), lit(4L)).as("part"),
    col("source"), col("text"))

  private def mountAs(db: String, root: java.nio.file.Path): Unit = {
    spark.conf.set(s"spark.graft.catalog.dir.$db", root.toString)
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  }

  /** (doc_id, _row_id, _last_updated_sequence_number) via the
    * always-native read face.
    */
  private def lineage(t: java.nio.file.Path): Map[Long, (Long, Long)] = {
    val v = SnapStore.currentVersion(t).get
    spark.read.format("graft.sources.SnapReadSource")
      .option("dir", t.toString).option("version", v).load()
      .select(col("doc_id"), col("_row_id"),
        col("_last_updated_sequence_number"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  // ----------------------------------------------------------------
  test("row ids assign at commit and stay stable across appends, " +
    "MOR updates, and repeated compaction; last-updated sequence " +
    "bumps exactly on row-writing commits") {
    val root = Files.createTempDirectory("graft-lineage")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    val base = docs.filter(col("doc_id") < 60)
    SnapStore.create(spark, t, base, "part")                         // v1
    val n = base.count()

    val l1 = lineage(t)
    assert(l1.size == n.toInt)
    // v3 inheritance: ids dense [0, n), each exactly once, seq = 1.
    assert(l1.values.map(_._1).toSet == (0L until n).toSet,
      "create must assign dense row ids from 0")
    assert(l1.values.forall(_._2 == 1L))

    // Append: new rows take the next id range, old ids untouched.
    SnapStore.append(spark, t,
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 80), "part") // v2
    val l2 = lineage(t)
    assert(l2.filter(_._1 < 60).forall { case (d, v) => l1(d) == v },
      "appends must not move existing row ids")
    val appended = l2.filter(_._1 >= 60).values
    assert(appended.map(_._1).toSet == (n until n + 20).toSet,
      s"appended ids must continue the counter: ${appended.map(_._1)}")
    assert(appended.forall(_._2 == 2L))

    // MOR SQL UPDATE: base files untouched → unchanged rows keep ids
    // byte-identical; rewritten rows KEEP their ids too (r14 — the
    // reinsert carries the preserved `_row_id`, v3's update contract
    // on every write path) with the bumped sequence.
    SnapStore.setProperties(t,
      Map("write.update.mode" -> "merge-on-read"))
    mountAs("lineage", root)
    spark.sql("UPDATE graft.lineage.t SET source = 'upd' " +
      "WHERE doc_id % 10 = 3")                                        // v3
    val l3 = lineage(t)
    assert(l3.size == 80)
    l3.foreach { case (d, (rid, seq)) =>
      if (d % 10 == 3) {
        assert(rid == l2(d)._1,
          s"updated doc $d must KEEP its row id (v3 update contract)")
        assert(seq == 3L, s"updated doc $d must carry the UPDATE seq")
      } else assert(l2(d) == ((rid, seq)),
        s"untouched doc $d must keep its id and seq exactly")
    }

    // The FOLD rewrites every surviving row — ids and sequences must
    // carry EXACTLY (materialized into the folded files, r13): the
    // natural MOR cycle (delta DML → applyDeletes) never loses
    // identity.
    SnapStore.applyDeletes(spark, t, "part")                          // v4
    val l4 = lineage(t)
    assert(l4 == l3,
      "applyDeletes must carry every (_row_id, _last_seq) exactly")
    assert(SnapStore.currentManifest(t).files.forall(_.lineage),
      "fold outputs must be marked lineage-materialized")
    SnapStore.compact(spark, t, "part", Long.MaxValue)                // v5
    val l5 = lineage(t)
    assert(l5 == l4,
      "compaction must carry every (_row_id, _last_seq) exactly")
    assert(SnapStore.currentManifest(t).files.forall(_.lineage),
      "compaction outputs must be marked lineage-materialized")

    // Re-compacting materialized files (after another append) still
    // carries: the rewrite reads the stored ids, not the derivation.
    SnapStore.append(spark, t,
      docs.filter(col("doc_id") >= 80 && col("doc_id") < 90), "part") // v6
    SnapStore.compact(spark, t, "part", Long.MaxValue)                // v7
    val l7 = lineage(t)
    assert(l7.filter(_._1 < 80) == l5,
      "re-compaction must preserve materialized ids")
    assert(l7.filter(_._1 >= 80).values.forall(_._2 == 6L))
    // No id is ever reused across the whole history.
    assert(l7.values.map(_._1).toSet.size == l7.size,
      "row ids must stay globally unique")
  }

  // ----------------------------------------------------------------
  test("lineage columns through SQL on the catalog route; files " +
    "predating assignment serve NULL, never a wrong id") {
    val root = Files.createTempDirectory("graft-lineage2")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs.filter(col("doc_id") < 40), "part")
    mountAs("lineage2", root)
    val rows = spark.sql(
      """SELECT COUNT(DISTINCT _row_id) AS ids,
        |  COUNT(*) AS n, MAX(_last_updated_sequence_number) AS mx
        |FROM graft.lineage2.t""".stripMargin).collect()(0)
    assert(rows.getLong(0) == 40L && rows.getLong(1) == 40L &&
      rows.getLong(2) == 1L)
  }

  // ----------------------------------------------------------------
  test("COW UPDATE/MERGE carry row lineage (VERDICT r13 #1): ids " +
    "stable for carried AND updated rows, _last_seq bumps only on " +
    "updated rows, merge-inserts inherit fresh ids, and a later " +
    "compact keeps everything") {
    val root = Files.createTempDirectory("graft-lineage-cow")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs.filter(col("doc_id") < 70), "part") // v1
    mountAs("lincow", root)
    val l1 = lineage(t)

    // COW UPDATE (default write modes): the group rewrite replaces
    // whole files, carrying lineage via required metadata attributes.
    spark.sql("UPDATE graft.lincow.t SET source = 'cowU' " +
      "WHERE doc_id % 7 = 3")                                          // v2
    assert(SnapStore.currentManifest(t).operation == "update",
      "must route the group-based COW path")
    assert(SnapStore.currentManifest(t).files.forall(_.lineage),
      "the COW rewrite outputs must be lineage-materialized")
    val l2 = lineage(t)
    assert(l2.keySet == l1.keySet)
    l2.foreach { case (d, (rid, seq)) =>
      assert(rid == l1(d)._1,
        s"doc $d must keep its row id across the COW update")
      if (d % 7 == 3)
        assert(seq == 2L, s"updated doc $d must re-stamp to the " +
          s"update's sequence, got $seq")
      else assert(seq == l1(d)._2,
        s"carried doc $d must keep its sequence, got $seq")
    }

    // COW MERGE: matched rows update (id kept, seq bumped), inserted
    // rows take FRESH ids (inherited from the new file) above every
    // existing id.
    docs.filter(col("doc_id") < 10).select(
      col("doc_id"), col("part"), lit("cowM").as("source"), col("text"))
      .unionByName(docs.filter(col("doc_id") >= 70 && col("doc_id") < 75)
        .select(col("doc_id"), col("part"), lit("cowI").as("source"),
          col("text")))
      .createOrReplaceTempView("lincow_src")
    spark.sql(
      """MERGE INTO graft.lincow.t t
        |USING lincow_src s ON t.doc_id = s.doc_id
        |WHEN MATCHED THEN UPDATE SET t.source = s.source
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)                // v3
    val l3 = lineage(t)
    val maxBefore = l2.values.map(_._1).max
    l3.foreach { case (d, (rid, seq)) =>
      if (d >= 70) {
        assert(rid > maxBefore,
          s"merge-inserted doc $d must take a fresh id, got $rid")
        assert(seq == 3L)
      } else if (d < 10) {
        assert(rid == l2(d)._1 && seq == 3L,
          s"merge-updated doc $d must keep its id and bump: $rid/$seq")
      } else assert(l2(d) == ((rid, seq)),
        s"carried doc $d must keep id and seq exactly")
    }
    assert(l3.values.map(_._1).toSet.size == l3.size,
      "row ids must stay globally unique")

    // Compact after the COW cycle: everything carries exactly.
    SnapStore.compact(spark, t, "part", Long.MaxValue)                 // v4
    assert(lineage(t) == l3,
      "compaction after the COW cycle must carry all lineage exactly")
  }
}
