package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftSessionSpec, SparkSpec, Tables}

/** The table layer's one delete-aware DataFrame scan
  * ([[SnapStore.scanWithDeletes]]): its table-schema face
  * ([[SnapStore.readManifest]]) and its meta-keeping face agree on
  * every kind of pending debt, and only the first face lets clean
  * files skip the `_metadata` read. */
class DeleteScanSpec extends SparkSpec {
  import GraftSessionSpec.engineSourcesMatching

  private def docs = Tables.documents(spark, sf).select(
    col("doc_id"),
    pmod(col("doc_id"), lit(4L)).as("part"),
    col("source"), col("text"))

  /** A table carrying a parquet position delete, a deletion vector,
    * an equality delete and a rename, then an append whose files no
    * delete names. Returns the table and the surviving row count. */
  private lazy val fixture = {
    val root = Files.createTempDirectory("graft-deletescan")
    root.toFile.deleteOnExit()
    val t = root.resolve("t")
    SnapStore.create(spark, t, docs, "part", keyCol = "doc_id")
    val pq = col("part") === 0L && pmod(col("doc_id"), lit(6L)) === 0L
    SnapStore.deletePositions(spark, t, pq)
    val dv = col("part") === 1L && pmod(col("doc_id"), lit(5L)) === 0L
    withConf("spark.graft.delete.vectors" -> "true") {
      SnapStore.deletePositions(spark, t, dv)
    }
    val eq = pmod(col("doc_id"), lit(7L)) === 3L
    SnapStore.deleteEquality(spark, t, docs.filter(eq).select("doc_id"),
      "doc_id")
    SnapStore.renameColumn(t, "text", "body")
    val added = docs.filter(col("doc_id") < 40L)
      .withColumn("doc_id", col("doc_id") + 900000L)
      .withColumnRenamed("text", "body")
    SnapStore.append(spark, t, added, "part")
    (t, docs.filter(!(pq || dv || eq)).count() + added.count())
  }

  private def plainCols(df: DataFrame): DataFrame = df.drop("__fn", "__ri")

  test("readManifest and the meta-keeping face return the same rows " +
    "over equality, parquet-position and DV deletes and a rename") {
    val (t, live) = fixture
    val m = SnapStore.currentManifest(t)
    val kinds = m.deleteFiles.map(d =>
      if (d.kind == "eq") "eq" else if (DeleteVectors.isDv(d.path)) "dv"
      else "pos").toSet
    assert(kinds === Set("eq", "pos", "dv"), m.deleteFiles)
    assert(m.evos.exists(_.kind == "rename"))
    val plain = SnapStore.readManifest(spark, t, m)
    val meta = SnapStore.scanWithDeletes(spark, t, m, m.files,
      m.schema.fieldNames.toSeq :+ "__fn" :+ "__ri")
    assert(meta.columns.toSeq === m.schema.fieldNames.toSeq :+ "__fn" :+ "__ri")
    assert(plain.columns.toSeq === m.schema.fieldNames.toSeq)
    assert(plain.count() === live)
    assert(meta.count() === live)
    assert(plain.exceptAll(plainCols(meta)).isEmpty)
    assert(plainCols(meta).exceptAll(plain).isEmpty)
    assert(plain.filter(col("body").isNull).isEmpty,
      "pre-rename files must read their values under the new name")
  }

  test("files no position delete names are read by readManifest " +
    "without _metadata; the meta-keeping face reads it") {
    val (t, _) = fixture
    val m = SnapStore.currentManifest(t)
    val named = SnapStore.posAffectedFiles(spark, t,
      m.deleteFiles.filter(_.kind == "pos"))
    val (hit, clean) = m.files.partition(f =>
      named(SnapStore.fileName(f.path)))
    assert(hit.nonEmpty && clean.nonEmpty,
      s"fixture needs both kinds of file: ${hit.size} named, ${clean.size} not")
    def readsMeta(df: DataFrame): Boolean =
      df.queryExecution.analyzed.toString.contains("_metadata")
    assert(!readsMeta(SnapStore.readManifest(spark, t, m.copy(files = clean))))
    assert(readsMeta(SnapStore.readManifest(spark, t, m)))
    assert(readsMeta(SnapStore.scanWithDeletes(spark, t, m, clean,
      m.schema.fieldNames.toSeq :+ "__fn")))
  }

  test("no engine source keeps the legacy read route or the dead " +
    "pruning faces") {
    val offenders = engineSourcesMatching(
      ("""spark\.graft\.read\.native|anyMergeOnRead|hasColStats|""" +
        """\bintersectsParts\b|\bfilesIntersecting\b|""" +
        """\bfilesForSourceValues\b""").r)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }
}
