package graft.ops

import java.nio.file.{Files, Path, Paths}

import graft.{Q, Tables}
import graft.sources.SnapStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** Table-maintenance operators over the [[graft.sources.SnapStore]]
  * snapshot format — the write-side faces of the reference's storage
  * layer ("Iceberg table read/write APIs … table maintenance",
  * BASELINE.json) that no read-only corpus query exercises: row-level
  * MERGE upsert, small-file compaction, snapshot expiry, and schema
  * evolution. Each registered entry drives a DETERMINISTIC lifecycle
  * derived purely from the `documents` fixture (idempotent: re-runs
  * observe the same final snapshot), then reads the post-maintenance
  * table back and aggregates it for the DuckDB oracle, which computes
  * the same final contents LOGICALLY from the raw fixture — proving
  * the physical file surgery preserved exactly the right rows.
  *
  * The per-part checksum is an order-independent `SUM(fold_hash
  * (text))`: file boundaries, bin-packing, and rewrite order cannot
  * affect it, but one lost, duplicated, or corrupted row changes it.
  *
  * MaintenanceSpec pins the physical claims the oracles cannot see:
  * untouched files carried byte-identical across a merge, file
  * counts collapsing under compaction, expired `VERSION AS OF`
  * raising, old files reading nulls for evolved columns.
  */
object Maintenance {

  private val P = 1000000007L
  private val partCol = "part"
  private val nParts = 8

  /** Bump to invalidate previously materialized lifecycles when the
    * scenario logic changes (the root directory is keyed by it).
    */
  private val logicVersion = "m8"

  /** Per-fixture root for the maintained tables, mounted as database
    * `maint` on the graft DSv2 catalog. Keyed by a hash of the FULL
    * fixture path (two fixtures sharing a basename can never serve
    * each other's data) plus [[logicVersion]].
    */
  def root(dir: String): Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft-snap",
      graft.queries.Materialize.pathTag(dir, logicVersion))


  /** Mount the maintenance database on the named DSv2 catalog so
    * `graft.maint.<table>` (and `VERSION AS OF`, `ALTER TABLE`,
    * `.files`) resolve through the catalog path.
    */
  def mount(s: SparkSession, dir: String): Unit = {
    s.conf.set("spark.graft.catalog.dir.maint", root(dir).toString)
    if (s.conf.getOption("spark.sql.catalog.graft").isEmpty)
      s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  }

  /** The base frame every lifecycle starts from: documents with a
    * coarse partition column (`doc_id % 8`) and a token count.
    */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      pmod(col("doc_id"), lit(nParts.toLong)).as(partCol),
      col("source"), col("text"),
      expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tok"))

  /** The merge change batch — confined to partitions {1, 5} so six
    * of eight partitions are provably untouched by the copy-on-write
    * rewrite: updates rewrite every third doc of partition 1 (text
    * gains a ` v2` suffix), inserts add a shifted-id copy of every
    * eleventh doc of partition 5 (`+100000` preserves `doc_id % 8`).
    */
  private def changes(s: SparkSession, dir: String): DataFrame = {
    val b = base(s, dir)
    val upd = b.filter(col(partCol) === 1 && pmod(col("doc_id"), lit(3L)) === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
    val ins = b.filter(col(partCol) === 5 && pmod(col("doc_id"), lit(11L)) === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("source", lit("srcM"))
      .withColumn("text", concat(col("text"), lit(" new")))
    upd.unionByName(ins)
      .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
  }

  // ----------------------------------------------------------------
  // Deterministic lifecycles (idempotent: each step keys off the
  // table's current version, so any entry order / re-run converges
  // on the same final state).

  /** `docs`: v1 create → v2 MERGE (parts {1,5} copy-on-write) →
    * expire all but the merged snapshot. Expiry deletes exactly the
    * v1 files the merge rewrote away (untouched-part files stay —
    * they are referenced by the live v2 manifest).
    */
  def ensureDocs(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.merge(s, t, changes(s, dir), "doc_id", partCol)
    if (SnapStore.liveVersions(t) != Seq(2))
      SnapStore.expire(t, keepLast = 1)
    mount(s, dir)
    t
  }

  /** `docs_frag`: v1 deliberately fragmented create (clustered by
    * `(part, doc_id % 4)` → ~4 small files per partition) → v2
    * bin-pack compaction to ≈¼ of the total table size per file.
    */
  def ensureDocsFrag(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_frag")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, numFiles = 32,
        clusterExprs = Seq(col(partCol), pmod(col("doc_id"), lit(4L))))
    if (SnapStore.currentVersion(t).contains(1)) {
      val total = SnapStore.currentManifest(t).files.map(_.bytes).sum
      SnapStore.compact(s, t, partCol, targetBytes = total / 4 + 1)
    }
    mount(s, dir)
    t
  }

  /** `docs_del`: v1 create → v2 copy-on-write DELETE of every
    * seventh doc of partition 3 — the delete set is confined to one
    * partition, so seven of eight partitions' files are provably
    * untouched by the rewrite.
    */
  def ensureDocsDel(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_del")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.delete(s, t,
        base(s, dir).filter(col(partCol) === 3 &&
          pmod(col("doc_id"), lit(7L)) === 0)
          .select(col("doc_id"), col(partCol)),
        "doc_id", partCol)
    mount(s, dir)
    t
  }

  /** `docs_sort`: v1 create clustered by partition only (sources
    * scattered across every file) → v2 sort-order rewrite clustered
    * by `source` under the partition — Iceberg's
    * `rewrite_data_files` with a sort order. 16 files so the range
    * boundaries split inside partitions and the per-file source
    * spans provably tighten (MaintenanceSpec).
    */
  def ensureDocsSort(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_sort")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, numFiles = 16)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.rewriteClustered(s, t, partCol, Seq(col("source")),
        numFiles = 16)
    mount(s, dir)
    t
  }

  /** `docs_pevo`: partition-spec evolution lifecycle. v1 create
    * partitioned by `part` → v2 `evolveSpec("tok")` (pure metadata —
    * zero files rewritten) → v3 merge under the NEW spec (every
    * thirteenth doc re-sourced `srcE1`): the old-spec files are
    * conservatively touched and thereby migrated to tok-bounded
    * files (rewrite-on-touch) → v4 merge confined to the `tok >= 80`
    * band (re-sourced `srcE2`): bound-based pruning bites again —
    * files whose tok range lies below the band carry untouched.
    */
  def ensureDocsPevo(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_pevo")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.evolveSpec(t, "tok")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.merge(s, t,
        b.filter(pmod(col("doc_id"), lit(13L)) === 0)
          .withColumn("source", lit("srcE1")),
        "doc_id", "tok")
    if (SnapStore.currentVersion(t).contains(3))
      SnapStore.merge(s, t,
        b.filter(col("tok") >= 80L).withColumn("source", lit("srcE2")),
        "doc_id", "tok")
    mount(s, dir)
    t
  }

  /** `docs_mor`: merge-on-read lifecycle. v1 create → v2 equality
    * DELETE of every seventeenth doc as a delete FILE (zero data
    * rewritten — the v2 manifest carries every v1 data file
    * untouched plus one tiny key parquet; reads anti-join it) → v3
    * `applyDeletes` folds the deletes into rewritten data files and
    * clears the pending set, restoring plain-scan reads.
    */
  def ensureDocsMor(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_mor")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deleteEquality(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(17L)) === 0)
          .select("doc_id"),
        "doc_id")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.applyDeletes(s, t, partCol)
    mount(s, dir)
    t
  }

  /** `docs_rb`: tag + rollback lifecycle. v1 create, tagged
    * `baseline` → v2 copy-on-write DELETE (the "bad commit") → v3
    * rollback to the tagged version: a NEW metadata-only commit
    * listing v1's files — current reads see the pre-delete contents
    * again while the bad commit stays in history for inspection.
    */
  def ensureDocsRb(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_rb")
    if (SnapStore.currentVersion(t).isEmpty) {
      SnapStore.create(s, t, base(s, dir), partCol)
      SnapStore.tag(t, "baseline", 1)
    }
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.delete(s, t,
        base(s, dir).filter(col(partCol) === 2 &&
          pmod(col("doc_id"), lit(9L)) === 0)
          .select(col("doc_id"), col(partCol)),
        "doc_id", partCol)
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.rollback(t, SnapStore.resolveVersion(t, "baseline"))
    mount(s, dir)
    t
  }

  /** `docs_evo`: v1 create WITHOUT the `tok` column over 80% of docs
    * → v2 `ADD COLUMN tok` (pure metadata — old files read it as
    * null) → v3 append the remaining 20% WITH `tok` populated.
    */
  def ensureDocsEvo(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_evo")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(5L)) =!= 0)
          .drop("tok"),
        partCol)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.addColumn(t, StructField("tok", LongType))
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.append(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(5L)) === 0), partCol)
    mount(s, dir)
    t
  }

  /** `docs_morm`: merge-on-read MERGE lifecycle (Iceberg v2
    * `write.merge.mode = merge-on-read`). v1 create (key bounds
    * declared) → v2 `mergeEquality`: ONE commit carrying an
    * equality-delete file for the change keys plus new data files
    * for the change rows — zero base data rewritten; reads resolve
    * matched-update/unmatched-insert by sequence number. The table
    * deliberately STAYS in its pending-delete state so the oracled
    * read exercises the sequence-scoped MOR read path itself.
    */
  def ensureDocsMorm(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_morm")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      val b = base(s, dir)
      val upd = b.filter(col(partCol) === 2 && pmod(col("doc_id"), lit(3L)) === 0)
        .withColumn("text", concat(col("text"), lit(" m2")))
      val ins = b.filter(col(partCol) === 6 && pmod(col("doc_id"), lit(13L)) === 6)
        .withColumn("doc_id", col("doc_id") + 200000L)
        .withColumn("source", lit("srcR"))
      SnapStore.mergeEquality(s, t,
        upd.unionByName(ins)
          .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)")),
        "doc_id")
    }
    mount(s, dir)
    t
  }

  /** `docs_pos`: position-delete lifecycle (Iceberg v2's second
    * delete flavor). v1 create → v2 `deletePositions` of every third
    * doc of partition 4 — one tiny `(file, pos)` parquet naming the
    * exact ordinals, zero data rewritten; reads suppress by ordinal
    * on ONLY the named files, clean files stay on the plain path
    * (spec-pinned). Stays pending so the oracled read exercises the
    * position-scoped read path.
    */
  def ensureDocsPos(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_pos")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deletePositions(s, t,
        col(partCol) === 4 && pmod(col("doc_id"), lit(3L)) === 0)
    mount(s, dir)
    t
  }

  /** `docs_br`: branch + fast-forward lifecycle (Iceberg branch
    * refs). v1 create → branch `ingest` forks → the branch takes an
    * append (every nineteenth doc re-keyed `+300000`, source `srcB`)
    * while MAIN never moves → fast-forward adopts the branch head as
    * main's v2 — the audit-then-publish pattern the pipeline
    * entries' eval/train snapshot workflows model.
    */
  def ensureDocsBr(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_br")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.branchHead(t, "ingest").isEmpty &&
      SnapStore.currentVersion(t).contains(1))
      SnapStore.createBranch(t, "ingest")
    if (SnapStore.branchHead(t, "ingest").contains(1))
      SnapStore.appendToBranch(s, t, "ingest",
        base(s, dir).filter(pmod(col("doc_id"), lit(19L)) === 0)
          .withColumn("doc_id", col("doc_id") + 300000L)
          .withColumn("source", lit("srcB")),
        partCol)
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "ingest").contains(2))
      SnapStore.fastForward(t, "ingest")
    mount(s, dir)
    t
  }

  /** `docs_date`: DATE-partitioned lifecycle — the reference's
    * partitioned warehouse is exactly a date-partitioned layout
    * (`partitioned_runner.sh:8,12`), and typed manifest bounds make
    * it prune natively. v1 create partitioned by a derived `day`
    * column (12 distinct weeks) → v2 MERGE confined to ONE day:
    * files whose ISO-string date bounds exclude it carry untouched
    * (spec-pinned), the day's rows re-source `srcD`.
    */
  def ensureDocsDate(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_date")
    def withDay(df: DataFrame): DataFrame = df.withColumn("day",
      expr("date_add(DATE'2024-01-01', CAST((doc_id % 12) * 7 AS INT))"))
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, withDay(base(s, dir)), "day", numFiles = 6,
        keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.merge(s, t,
        withDay(base(s, dir)).filter(col("day") === to_date(lit("2024-01-22")))
          .withColumn("source", lit("srcD")),
        "doc_id", "day")
    mount(s, dir)
    t
  }

  /** `docs_cdc`: changelog lifecycle. v1 create → v2 append (every
    * twenty-third doc re-keyed `+400000`, source `srcC`) → v3 COW
    * merge updating part-1 every-fifth docs (text + ` u2`) → v4 COW
    * delete of part-6 every-ninth docs. The changelog over 1→4 must
    * surface exactly the appended INSERTs, the merge's DELETE+INSERT
    * pairs, and the delete's DELETEs — with every carried-over row in
    * the rewritten files cancelling out of the file diff.
    */
  def ensureDocsCdc(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_cdc")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.append(s, t,
        b.filter(pmod(col("doc_id"), lit(23L)) === 0)
          .withColumn("doc_id", col("doc_id") + 400000L)
          .withColumn("source", lit("srcC")),
        partCol)
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.merge(s, t,
        b.filter(col(partCol) === 1 && pmod(col("doc_id"), lit(5L)) === 1)
          .withColumn("text", concat(col("text"), lit(" u2")))
          .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)")),
        "doc_id", partCol)
    if (SnapStore.currentVersion(t).contains(3))
      SnapStore.delete(s, t,
        b.filter(col(partCol) === 6 && pmod(col("doc_id"), lit(9L)) === 6)
          .select(col("doc_id"), col(partCol)),
        "doc_id", partCol)
    mount(s, dir)
    t
  }

  /** `docs_dml`: SQL-DML lifecycle. v1 create → v2 `DELETE FROM
    * graft.maint.docs_dml WHERE part = 5 AND tok >= 60` issued as
    * plain SQL through the catalog — Spark's DSv2 delete path pushes
    * the predicate into [[graft.sources.SnapTable.deleteWhere]],
    * which commits a copy-on-write delete rewriting only the files
    * that held matches.
    */
  def ensureDocsDml(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_dml")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      mount(s, dir)
      s.sql("DELETE FROM graft.maint.docs_dml WHERE part = 5 AND tok >= 60")
    }
    mount(s, dir)
    t
  }

  /** `docs_ins`: SQL-INSERT lifecycle. v1 create → v2 `INSERT INTO
    * graft.maint.docs_ins SELECT …` re-keying every twenty-ninth doc
    * (`+500000`, source `srcI`) from the table itself — the append
    * commits through the catalog's DSv2 V1Write bridge.
    */
  def ensureDocsIns(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_ins")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      mount(s, dir)
      s.sql(
        """INSERT INTO graft.maint.docs_ins
          |SELECT doc_id + 500000, part, 'srcI', text, tok
          |FROM graft.maint.docs_ins WHERE doc_id % 29 = 0""".stripMargin)
    }
    mount(s, dir)
    t
  }

  /** `docs_proc`: stored-procedure lifecycle. v1 create → v2 append
    * (every thirty-first doc re-keyed `+600000`, source `srcP`) →
    * v3 `CALL graft.system.rollback_to_snapshot(...)` undoing it —
    * the maintenance action driven entirely through the SQL CALL
    * surface.
    */
  def ensureDocsProc(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_proc")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.append(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(31L)) === 0)
          .withColumn("doc_id", col("doc_id") + 600000L)
          .withColumn("source", lit("srcP")),
        partCol)
    if (SnapStore.currentVersion(t).contains(2)) {
      mount(s, dir)
      s.sql("CALL graft.system.rollback_to_snapshot('maint.docs_proc', 1)")
    }
    mount(s, dir)
    t
  }

  /** `docs_mrg`: SQL MERGE INTO lifecycle. v1 create → v2 `MERGE
    * INTO graft.maint.docs_mrg` from a derived source view — every
    * thirty-seventh doc re-sources to `srcQ` (matched update) and
    * every forty-first doc inserts re-keyed `+700000` as `srcN`
    * (unmatched insert) — Spark's group-based row-level-operation
    * path committing one atomic replace snapshot.
    */
  def ensureDocsMrg(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_mrg")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      mount(s, dir)
      val b = base(s, dir)
      b.filter(pmod(col("doc_id"), lit(37L)) === 2)
        .withColumn("source", lit("srcQ"))
        .unionByName(b.filter(pmod(col("doc_id"), lit(41L)) === 3)
          .withColumn("doc_id", col("doc_id") + 700000L)
          .withColumn("source", lit("srcN")))
        .createOrReplaceTempView("graft_merge_src")
      s.sql(
        """MERGE INTO graft.maint.docs_mrg t
          |USING graft_merge_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET t.source = s.source
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    mount(s, dir)
    t
  }

  // ----------------------------------------------------------------
  // Registered entries + oracles.

  private def checksum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(expr(s"fold_hash(${c.toString}, 31, 0, $P)"))

  /** Post-MERGE contents, per partition: the oracle recomputes the
    * matched-update/unmatched-insert semantics logically from the
    * fixture, so a hash match proves the file-level COW rewrite kept
    * every untouched row and applied every change exactly once.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocs(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  private def foldSql(e: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $P)"

  private val mergedCte: String =
    s"""base AS (
       |  SELECT doc_id, doc_id % $nParts AS part, source, text
       |  FROM documents),
       |upd AS (
       |  SELECT doc_id, part, source, text || ' v2' AS text
       |  FROM base WHERE part = 1 AND doc_id % 3 = 0),
       |ins AS (
       |  SELECT doc_id + 100000 AS doc_id, part, 'srcM' AS source,
       |    text || ' new' AS text
       |  FROM base WHERE part = 5 AND doc_id % 11 = 0),
       |changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
       |merged AS (
       |  SELECT * FROM changes
       |  UNION ALL
       |  SELECT * FROM base
       |  WHERE doc_id NOT IN (SELECT doc_id FROM changes))""".stripMargin

  val mergeUpsertOracle: String =
    s"""WITH $mergedCte
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM merged
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** Post-compaction contents per source: bin-packing must be a pure
    * layout change, so the oracle is simply the BASE table's own
    * aggregate — any row lost/duplicated by the rewrite breaks the
    * checksum.
    */
  def compaction(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsFrag(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val compactionOracle: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Live read AFTER snapshot expiry, through the catalog's
    * time-travel path (`VERSION AS OF 2` — the only surviving
    * snapshot): expiry must leave live-version reads bit-identical
    * to the merged contents. The expired-version error path is
    * spec-pinned (it cannot be oracled — it throws).
    */
  def snapshotExpiry(s: SparkSession, dir: String): DataFrame = {
    ensureDocs(s, dir)
    s.sql("SELECT * FROM graft.maint.docs VERSION AS OF 2")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val snapshotExpiryOracle: String =
    s"""WITH $mergedCte
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM merged
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Post-evolution contents per source: rows from pre-evolution
    * files carry `tok IS NULL` (the column landed after they were
    * written), appended rows carry real counts — the exact
    * merged-schema read Iceberg evolution promises.
    */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsEvo(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("tok")).as("n_with_tok"),
        sum(coalesce(col("tok"), lit(0L))).as("sum_tok"))
      .orderBy(col("source"))
  }

  val schemaEvolutionOracle: String =
    """WITH evo AS (
      |  SELECT source, CASE WHEN doc_id % 5 = 0
      |    THEN CAST(len(string_split(text, ' ')) AS BIGINT) END AS tok
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  COUNT(tok) AS n_with_tok,
      |  CAST(SUM(coalesce(tok, 0)) AS BIGINT) AS sum_tok
      |FROM evo
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** Post-DELETE contents per partition: the oracle recomputes the
    * surviving set logically, so a hash match proves the COW rewrite
    * dropped exactly the matched rows and kept every other row —
    * including every row of the seven untouched partitions.
    */
  def deleteRows(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsDel(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val deleteRowsOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE NOT (doc_id % $nParts = 3 AND doc_id % 7 = 0)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Incremental (changelog) read v2→v3 of the evolution lifecycle:
    * exactly the appended 20% batch, served by scanning ONLY the
    * files the append added (no base data touched — the file-level
    * contrast to `pipe_snapshot_diff`'s logical full-outer diff).
    * The oracle recomputes the appended set from the fixture, so a
    * hash match proves the manifest diff surfaced precisely the
    * added rows.
    */
  def incrementalRead(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsEvo(s, dir)
    SnapStore.incrementalRead(s, t, fromVersion = 2, toVersion = 3)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val incrementalReadOracle: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 5 = 0
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Post-sort-rewrite contents per source: a sort-order rewrite is
    * a pure placement change, so the oracle is the base table's own
    * aggregate — one lost/duplicated row breaks the checksum. The
    * pruning claims (tight per-file source spans, in-file sortedness)
    * are spec-pinned; they have no SQL surface.
    */
  def clusterRewrite(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsSort(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val clusterRewriteOracle: String = compactionOracle

  /** Post-partition-evolution contents per source: the oracle
    * recomputes both merges' semantics logically (band re-source
    * wins over the thirteenth-doc re-source where they overlap,
    * since it committed later), so a hash match proves evolution +
    * rewrite-on-touch migration + post-migration pruned merge
    * together lost and duplicated nothing.
    */
  def partitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsPevo(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val partitionEvolutionOracle: String =
    s"""WITH f AS (
       |  SELECT text, len(string_split(text, ' ')) AS tok,
       |    CASE WHEN len(string_split(text, ' ')) >= 80 THEN 'srcE2'
       |         WHEN doc_id % 13 = 0 THEN 'srcE1'
       |         ELSE source END AS source
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM f
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Two faces of the merge-on-read lifecycle stacked under a label:
    * the MOR snapshot read (v2 — deletes applied at read time by the
    * anti-join, data files untouched) and the post-apply current
    * table (v3 — deletes folded into rewritten files). Both must
    * equal documents-minus-deleted, so one oracle aggregate checks
    * read-merge and write-fold agree row for row; the physical
    * claims (zero data IO at v2, pending-delete catalog refusal,
    * empty delete set at v3) are spec-pinned.
    */
  def morDelete(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMor(s, dir)
    def agg(df: DataFrame, face: String) = df
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .withColumn("face", lit(face))
    agg(SnapStore.read(s, t, Some(2)), "mor_read")
      .unionByName(agg(SnapStore.read(s, t), "applied"))
      .select(col("face"), col(partCol), col("n_docs"), col("sum_tok"),
        col("chk"))
      .orderBy(col("face"), col(partCol))
  }

  val morDeleteOracle: String =
    s"""WITH surv AS (
       |  SELECT doc_id % $nParts AS part, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents WHERE doc_id % 17 <> 0),
       |a AS (
       |  SELECT part, COUNT(*) AS n_docs,
       |    CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |    CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |  FROM surv GROUP BY part)
       |SELECT 'applied' AS face, part, n_docs, sum_tok, chk FROM a
       |UNION ALL
       |SELECT 'mor_read', part, n_docs, sum_tok, chk FROM a
       |ORDER BY face, part""".stripMargin

  /** Two faces of the rollback lifecycle stacked under a label: the
    * CURRENT table (post-rollback — the delete undone) and the
    * `VERSION AS OF 'baseline'` tagged read through the catalog.
    * Both must equal the untouched base, so the oracle is the base
    * aggregate duplicated per label — one divergent row on either
    * face breaks the hash.
    */
  def rollbackTag(s: SparkSession, dir: String): DataFrame = {
    ensureDocsRb(s, dir)
    def agg(df: DataFrame, face: String) = df
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), checksum(col("text")).as("chk"))
      .withColumn("face", lit(face))
    agg(s.table("graft.maint.docs_rb"), "current")
      .unionByName(agg(
        s.sql("SELECT * FROM graft.maint.docs_rb VERSION AS OF 'baseline'"),
        "tag"))
      .select(col("face"), col("source"), col("n_docs"), col("chk"))
      .orderBy(col("face"), col("source"))
  }

  val rollbackTagOracle: String =
    s"""WITH a AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |  FROM documents GROUP BY source)
       |SELECT 'current' AS face, source, n_docs, chk FROM a
       |UNION ALL
       |SELECT 'tag', source, n_docs, chk FROM a
       |ORDER BY face, source""".stripMargin

  /** The snapshot log (`db.table.snapshots` metadata table) of the
    * evolution lifecycle: three live snapshots whose operations and
    * row totals the oracle recomputes from the fixture — create
    * carries 80% of docs, add-column is metadata-only (same rows),
    * append lands the remaining 20%.
    */
  def snapshotLog(s: SparkSession, dir: String): DataFrame = {
    ensureDocsEvo(s, dir)
    s.sql("""SELECT version, operation, total_rows
             FROM graft.maint.docs_evo.snapshots
             ORDER BY version""")
  }

  val snapshotLogOracle: String =
    """WITH c AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE doc_id % 5 <> 0) AS n80
      |  FROM documents)
      |SELECT CAST(1 AS INTEGER) AS version, 'create' AS operation,
      |  CAST(n80 AS BIGINT) AS total_rows FROM c
      |UNION ALL SELECT 2, 'add-column', CAST(n80 AS BIGINT) FROM c
      |UNION ALL SELECT 3, 'append', CAST(n AS BIGINT) FROM c
      |ORDER BY version""".stripMargin

  /** Post-MOR-MERGE contents per partition, read through the
    * sequence-scoped merge-on-read path (the pending delete file
    * suppresses matched rows in older files; the merge's own data
    * files outrank it): the oracle recomputes the
    * matched-update/unmatched-insert semantics logically, so a hash
    * match proves the zero-rewrite commit upserts exactly like the
    * COW merge would. The physical claims (no base file rewritten,
    * one delete file, sequence stamps) are spec-pinned.
    */
  def morMerge(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMorm(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val morMergeOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $nParts AS part, source, text
       |  FROM documents),
       |upd AS (
       |  SELECT doc_id, part, source, text || ' m2' AS text
       |  FROM base WHERE part = 2 AND doc_id % 3 = 0),
       |ins AS (
       |  SELECT doc_id + 200000 AS doc_id, part, 'srcR' AS source, text
       |  FROM base WHERE part = 6 AND doc_id % 13 = 6),
       |changes AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
       |merged AS (
       |  SELECT * FROM changes
       |  UNION ALL
       |  SELECT * FROM base
       |  WHERE doc_id NOT IN (SELECT doc_id FROM changes))
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM merged
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** Post-position-delete contents per partition, read through the
    * ordinal-scoped path (only the files the delete names pay the
    * `(file, pos)` anti-join; clean files scan plain — spec-pinned):
    * the oracle recomputes the surviving set logically, so a hash
    * match proves the ordinals named exactly the matched rows.
    */
  def positionDelete(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsPos(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val positionDeleteOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE NOT (doc_id % $nParts = 4 AND doc_id % 3 = 0)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_rdel`: delete-file compaction lifecycle (Iceberg
    * `rewrite_position_delete_files`). v1 create → v2 position delete
    * (every 5th doc of partition 3) → v3 position delete (every 7th
    * doc of partition 5) — two small pending delete parquets — → v4
    * `CALL graft.system.rewrite_delete_files`: the pos parquets merge
    * into one, data files untouched, deletes STILL pending (the read
    * exercises the merged routing/refs). Physical claims (file count,
    * identical data files, refs union) are spec-pinned.
    */
  def ensureDocsRdel(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_rdel")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deletePositions(s, t,
        col(partCol) === 3 && pmod(col("doc_id"), lit(5L)) === 0)
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.deletePositions(s, t,
        col(partCol) === 5 && pmod(col("doc_id"), lit(7L)) === 0)
    if (SnapStore.currentVersion(t).contains(3)) {
      mount(s, dir)
      s.sql("CALL graft.system.rewrite_delete_files('maint.docs_rdel')")
    }
    mount(s, dir)
    t
  }

  /** Post-compaction pending-MOR contents per partition: the merged
    * delete parquet must suppress exactly the union of the two
    * original deletes' rows — the oracle recomputes the surviving set
    * logically, so a hash match proves the merge lost nothing and
    * resurrected nothing.
    */
  def rewriteDeleteFilesQ(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsRdel(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val rewriteDeleteFilesOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE NOT (doc_id % $nParts = 3 AND doc_id % 5 = 0)
       |  AND NOT (doc_id % $nParts = 5 AND doc_id % 7 = 0)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_cmor`: DELETE-AWARE compaction lifecycle (Iceberg
    * `rewrite_data_files` over a v2 MOR table). v1 create (2 files)
    * → v2 equality delete of every 3rd doc (applies to the v1
    * files) → v3 append of ALL docs re-keyed +400000 as ONE big
    * file (seq 3 — the eq delete never applies to it) → v4 position
    * delete of every 7th appended row (refs = the big file) → v5
    * position delete of part-2 base rows (refs = a v1 file) → v6
    * compact sized so the big file is a single-file bin (carried
    * byte-identical) while both v1 files rewrite delete-free. The
    * eq delete and the v1-referencing pos delete RETIRE (no carried
    * file they can apply to); the big-file pos delete stays pending
    * and keeps suppressing at read time. Physical claims are
    * spec-pinned; the oracle proves the surviving row set.
    */
  def ensureDocsCmor(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_cmor")
    val b = base(s, dir)
    val app = b
      .withColumn("doc_id", col("doc_id") + 400000L)
      .withColumn("source", lit("srcA"))
      .withColumn("text", concat(col("text"), lit(" a")))
      .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, numFiles = 2, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deleteEquality(s, t,
        b.filter(pmod(col("doc_id"), lit(3L)) === 0).select("doc_id"),
        "doc_id")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.append(s, t, app, partCol, numFiles = 1)
    if (SnapStore.currentVersion(t).contains(3))
      SnapStore.deletePositions(s, t,
        col("source") === "srcA" && pmod(col("doc_id"), lit(7L)) === 1)
    if (SnapStore.currentVersion(t).contains(4))
      SnapStore.deletePositions(s, t,
        col("source") =!= "srcA" && col(partCol) === 2 &&
          pmod(col("doc_id"), lit(5L)) === 0)
    if (SnapStore.currentVersion(t).contains(5)) {
      // Target = the combined v1 footprint: the appended big file
      // (strictly larger than either v1 half, and FIRST in partition
      // order) lands alone in its bin, while the v1 files pack
      // together and rewrite.
      val cur = SnapStore.currentManifest(t)
      val v1Bytes = cur.files.filter(_.path.contains("base-v1"))
        .map(_.bytes).sum
      SnapStore.compact(s, t, partCol, targetBytes = v1Bytes)
    }
    mount(s, dir)
    t
  }

  /** `docs_zord`: Z-order rewrite lifecycle (Iceberg
    * `rewrite_data_files` with a `zorder(x, y)` sort order). Two
    * equal-domain derived dimensions (an affine-hash spread and a
    * plain mod, both 0..255) ride the base frame; v1 creates
    * clustered by partition only (x/y scattered across every file) →
    * v2 `rewriteZOrdered` re-clusters on the interleaved curve, so
    * per-file bounds tighten on BOTH dimensions (span-tightening is
    * spec-pinned; the oracle proves the layout-only rewrite kept
    * exactly the same rows).
    */
  def ensureDocsZord(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_zord")
    val b = base(s, dir)
      .withColumn("x", pmod(col("doc_id") * 2654435761L + 11L, lit(256L)))
      .withColumn("y", pmod(col("doc_id"), lit(256L)))
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, numFiles = 8)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.rewriteZOrdered(s, t, partCol, Seq("x", "y"),
        numFiles = 32, bits = 8)
    mount(s, dir)
    t
  }

  /** Post-Z-order-rewrite contents per partition: a sort-order
    * rewrite is layout-only, so every row (including the derived
    * dimensions) must survive verbatim — the oracle recomputes the
    * full set from the fixture.
    */
  def zorderRewrite(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsZord(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val zorderRewriteOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM((doc_id * 2654435761 + 11) % 256) AS BIGINT) AS sum_x,
       |  CAST(SUM(doc_id % 256) AS BIGINT) AS sum_y,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_bret`: ref-level retention lifecycle (Iceberg's per-ref
    * `max-ref-age-ms` / `min-snapshots-to-keep` /
    * `max-snapshot-age-ms`). v1 create → branch `stale` takes one
    * append → branch `keep` takes three appends (srcK1..3) →
    * `expireRefs` with a per-ref age override of 0 for `stale`
    * (drops it entirely), an effectively-infinite default ref age
    * (`keep` survives), and an aggressive snapshot age with
    * min-snapshots-to-keep = 2 (trims `keep`'s mid-chain manifest,
    * keeping the fork point + newest two) → `removeOrphans` collects
    * the dropped branch's exclusive file. The oracle proves the kept
    * branch still serves base + all three appended batches; drop /
    * trim / orphan physicals are spec-pinned.
    */
  def ensureDocsBret(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_bret")
    val b = base(s, dir)
    def batch(k: Long, offset: Long, src: String): DataFrame = b
      .filter(pmod(col("doc_id"), lit(29L)) === k)
      .withColumn("doc_id", col("doc_id") + offset)
      .withColumn("source", lit(src))
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol)
    if (SnapStore.branchHead(t, "keep").isEmpty &&
      SnapStore.branchHead(t, "stale").isEmpty) {
      SnapStore.createBranch(t, "stale")
      SnapStore.appendToBranch(s, t, "stale",
        batch(3L, 500000L, "srcS"), partCol, numFiles = 1)
    }
    if (SnapStore.branchHead(t, "keep").isEmpty)
      SnapStore.createBranch(t, "keep")
    if (SnapStore.branchHead(t, "keep").contains(1))
      SnapStore.appendToBranch(s, t, "keep",
        batch(0L, 600000L, "srcK1"), partCol, numFiles = 1)
    if (SnapStore.branchHead(t, "keep").contains(2))
      SnapStore.appendToBranch(s, t, "keep",
        batch(1L, 610000L, "srcK2"), partCol, numFiles = 1)
    if (SnapStore.branchHead(t, "keep").contains(3))
      SnapStore.appendToBranch(s, t, "keep",
        batch(2L, 620000L, "srcK3"), partCol, numFiles = 1)
    if (SnapStore.listBranches(t).contains("stale")) {
      SnapStore.expireRefs(t,
        nowMs = System.currentTimeMillis() + 60000L,
        defaultMaxRefAgeMs = Long.MaxValue / 2,
        maxSnapshotAgeMs = 0L,
        minSnapshotsToKeep = 2,
        maxRefAgeOverrides = Map("stale" -> 0L))
      SnapStore.removeOrphans(t, minAgeMs = 0L)
    }
    mount(s, dir)
    t
  }

  /** The surviving branch's head contents per source after ref
    * retention + orphan cleanup: base plus ALL THREE appended batches
    * must read intact (trimming mid-chain manifests and collecting
    * the dropped branch's file must lose nothing the kept branch
    * references) — the oracle recomputes that set from the fixture.
    */
  def branchRetention(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsBret(s, dir)
    SnapStore.readBranch(s, t, "keep")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val branchRetentionOracle: String =
    s"""WITH b AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'srcK1' AS source, text FROM documents WHERE doc_id % 29 = 0
       |  UNION ALL
       |  SELECT 'srcK2' AS source, text FROM documents WHERE doc_id % 29 = 1
       |  UNION ALL
       |  SELECT 'srcK3' AS source, text FROM documents WHERE doc_id % 29 = 2)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM b
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Post-delete-aware-compaction contents per partition: the
    * rewritten v1 bins folded the equality delete and the part-2
    * position delete, the carried big file still reads through its
    * pending position delete — the oracle recomputes the surviving
    * set logically, so a hash match proves folding lost nothing and
    * resurrected nothing.
    */
  def compactMor(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsCmor(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val compactMorOracle: String =
    s"""WITH allr AS (
       |  SELECT doc_id % $nParts AS part, text FROM documents
       |  WHERE doc_id % 3 <> 0
       |    AND NOT (doc_id % $nParts = 2 AND doc_id % 5 = 0)
       |  UNION ALL
       |  SELECT doc_id % $nParts AS part, text || ' a' AS text
       |  FROM documents
       |  WHERE (doc_id + 400000) % 7 <> 1)
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM allr
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** Post-fast-forward MAIN contents per source: the branch took the
    * append while main never moved, then fast-forward adopted the
    * branch head as a metadata-only main commit — so main must equal
    * base plus the branch's appended batch, which the oracle
    * recomputes from the fixture. Divergence/stale-FF/expiry claims
    * are spec-pinned.
    */
  def branchFastForward(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsBr(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val branchFastForwardOracle: String =
    s"""WITH b AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'srcB' AS source, text FROM documents WHERE doc_id % 19 = 0)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM b
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** Post-merge contents of the DATE-partitioned table, per day: the
    * oracle recomputes the day derivation and the one-day re-source
    * in DuckDB date arithmetic, so a hash match proves typed (ISO
    * date) manifest bounds drove a correct native-date merge. The
    * carry/prune physical claims are spec-pinned.
    */
  def datePartition(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsDate(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("source") === "srcD", 1L).otherwise(0L)).as("n_srcd"),
        checksum(col("text")).as("chk"))
      .orderBy(col("day"))
  }

  val datePartitionOracle: String =
    s"""WITH f AS (
       |  SELECT DATE '2024-01-01' + CAST((doc_id % 12) * 7 AS INTEGER) AS day,
       |    CASE WHEN doc_id % 12 = 3 THEN 'srcD' ELSE source END AS source,
       |    text
       |  FROM documents)
       |SELECT day, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN source = 'srcD' THEN 1 ELSE 0 END) AS BIGINT) AS n_srcd,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM f
       |GROUP BY day
       |ORDER BY day""".stripMargin

  /** The changelog 1→4 of the CDC lifecycle, aggregated per
    * (commit, change type): the oracle recomputes each commit's net
    * row changes logically — the appended batch as INSERTs, the
    * merge as DELETE+INSERT pairs (old and new text checksums), the
    * delete as DELETEs — so a hash match proves the manifest
    * file-diff EXCEPT cancelled every carried-over row and surfaced
    * exactly the real changes.
    */
  def changelog(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsCdc(s, dir)
    SnapStore.changelogRead(s, t, fromVersion = 1, toVersion = 4)
      .groupBy(col("_commit_version").as("version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), checksum(col("text")).as("chk"))
      .orderBy(col("version"), col("change_type"))
  }

  val changelogOracle: String =
    s"""WITH base AS (
       |  SELECT doc_id, doc_id % $nParts AS part, text FROM documents),
       |upd AS (SELECT text FROM base WHERE part = 1 AND doc_id % 5 = 1)
       |SELECT 2 AS version, 'INSERT' AS change_type,
       |  COUNT(*) AS n_rows,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM base WHERE doc_id % 23 = 0
       |UNION ALL
       |SELECT 3, 'DELETE', COUNT(*),
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) FROM upd
       |UNION ALL
       |SELECT 3, 'INSERT', COUNT(*),
       |  CAST(SUM(${foldSql("text || ' u2'")}) AS BIGINT) FROM upd
       |UNION ALL
       |SELECT 4, 'DELETE', COUNT(*),
       |  CAST(SUM(${foldSql("text")}) AS BIGINT)
       |FROM base WHERE part = 6 AND doc_id % 9 = 6
       |ORDER BY version, change_type""".stripMargin

  /** `docs_morsql`: pending-MOR SQL-read lifecycle (VERDICT r6 task
    * #1). v1 create → v2 merge-on-read EQUALITY delete (every 13th
    * doc) → v3 POSITION delete (every 5th doc of partition 2) — and
    * the deletes stay UNFOLDED: the query reads the pending snapshot
    * through the catalog's SQL path, which routes the delete-aware
    * scan (sequence-scoped anti-joins) through the V1 bridge —
    * Iceberg `SparkTable`'s transparent MOR-read contract.
    */
  def ensureDocsMorSql(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_morsql")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deleteEquality(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(13L)) === 0)
          .select("doc_id"),
        "doc_id")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.deletePositions(s, t,
        col(partCol) === 2 && pmod(col("doc_id"), lit(5L)) === 0)
    mount(s, dir)
    t
  }

  /** Per-partition contents of the PENDING merge-on-read snapshot
    * read via plain SQL through the catalog: the oracle recomputes
    * the surviving set logically (neither delete folded), so a hash
    * match proves the bridged scan applied both pending delete
    * flavors exactly — no deleted row served, no surviving row lost.
    */
  def morSqlRead(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMorSql(s, dir)
    // The point of the entry: the snapshot still HAS pending deletes.
    require(SnapStore.currentManifest(t).deleteFiles.nonEmpty,
      "docs_morsql must be read while its MOR deletes are pending")
    s.sql(
      s"""SELECT part, COUNT(*) AS n_docs,
         |  SUM(tok) AS sum_tok,
         |  SUM(fold_hash(text, 31, 0, $P)) AS chk
         |FROM graft.maint.docs_morsql
         |GROUP BY part ORDER BY part""".stripMargin)
  }

  val morSqlReadOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id, doc_id % $nParts AS part, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents)
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM f
       |WHERE doc_id % 13 <> 0 AND NOT (part = 2 AND doc_id % 5 = 0)
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** `docs_ren`: RENAME COLUMN + type-widening lifecycle (VERDICT r6
    * task #4). v1 create with `tok` as INT → v2 `ALTER TABLE …
    * RENAME COLUMN tok TO n_tok` → v3 `ALTER COLUMN n_tok TYPE
    * BIGINT` — both pure metadata commits through the catalog; the
    * v1 data files are untouched and read through the manifest's
    * evolution log — → v4 `INSERT INTO … SELECT` re-keying every
    * 43rd doc (`+700000`, source `srcR`), whose files carry the new
    * name and type natively.
    */
  def ensureDocsRen(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_ren")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t,
        base(s, dir).withColumn("tok", col("tok").cast("int")),
        partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      mount(s, dir)
      s.sql("ALTER TABLE graft.maint.docs_ren RENAME COLUMN tok TO n_tok")
    }
    if (SnapStore.currentVersion(t).contains(2)) {
      mount(s, dir)
      s.sql("ALTER TABLE graft.maint.docs_ren ALTER COLUMN n_tok TYPE BIGINT")
    }
    if (SnapStore.currentVersion(t).contains(3)) {
      mount(s, dir)
      s.sql(
        """INSERT INTO graft.maint.docs_ren
          |SELECT doc_id + 700000, part, 'srcR', text, n_tok
          |FROM graft.maint.docs_ren WHERE doc_id % 43 = 1""".stripMargin)
    }
    mount(s, dir)
    t
  }

  /** Per-source contents after the rename/widen/append chain, read
    * through the catalog under the NEW column name: the oracle
    * recomputes base-plus-inserted logically, so a hash match proves
    * pre-evolution files read their as-written `tok INT` column back
    * as `n_tok BIGINT` with every value intact, alongside the
    * natively-typed appended files.
    */
  def renameWiden(s: SparkSession, dir: String): DataFrame = {
    ensureDocsRen(s, dir)
    s.sql(
      s"""SELECT source, COUNT(*) AS n_docs,
         |  SUM(n_tok) AS sum_tok,
         |  SUM(fold_hash(text, 31, 0, $P)) AS chk
         |FROM graft.maint.docs_ren
         |GROUP BY source ORDER BY source""".stripMargin)
  }

  val renameWidenOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |m AS (
       |  SELECT source, text, tok FROM b
       |  UNION ALL
       |  SELECT 'srcR' AS source, text, tok FROM b WHERE doc_id % 43 = 1)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM m
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** The `refs` metadata table of the branch lifecycle through the
    * catalog: after fast-forward both `main` and the `ingest` branch
    * head point at snapshot 2 — a pure-metadata surface, so the
    * oracle is the literal expected reference set.
    */
  def refs(s: SparkSession, dir: String): DataFrame = {
    ensureDocsBr(s, dir)
    s.sql("""SELECT name, type, version FROM graft.maint.docs_br.refs
             ORDER BY name""")
  }

  val refsOracle: String =
    """SELECT 'ingest' AS name, 'BRANCH' AS type, CAST(2 AS INTEGER) AS version
      |UNION ALL
      |SELECT 'main', 'BRANCH', CAST(2 AS INTEGER)
      |ORDER BY name""".stripMargin

  /** Post-SQL-DELETE contents per partition: the oracle recomputes
    * the surviving set from the predicate, so a hash match proves the
    * catalog's pushed-filter → COW-delete translation dropped exactly
    * the matched rows. The file-scoping physical claims are
    * spec-pinned.
    */
  def sqlDelete(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsDml(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val sqlDeleteOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id % $nParts AS part, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents)
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM f
       |WHERE NOT (part = 5 AND tok >= 60)
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** Post-SQL-INSERT contents per source: the oracle recomputes the
    * base-plus-reinserted-batch union, so a hash match proves the
    * catalog's V1Write append committed exactly the selected rows.
    */
  def sqlInsert(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsIns(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val sqlInsertOracle: String =
    s"""WITH b AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'srcI' AS source, text FROM documents WHERE doc_id % 29 = 0)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM b
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** The snapshot log after the CALL-driven rollback, plus the
    * current contents' row total riding in the rollback row: the
    * oracle recomputes each snapshot's totals from the fixture, so a
    * match proves the SQL procedure surface performed the same
    * metadata commit the API does.
    */
  def callProcedure(s: SparkSession, dir: String): DataFrame = {
    ensureDocsProc(s, dir)
    s.sql("""SELECT version, operation, total_rows
             FROM graft.maint.docs_proc.snapshots
             ORDER BY version""")
  }

  val callProcedureOracle: String =
    """WITH c AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE doc_id % 31 = 0) AS n31
      |  FROM documents)
      |SELECT CAST(1 AS INTEGER) AS version, 'create' AS operation,
      |  CAST(n AS BIGINT) AS total_rows FROM c
      |UNION ALL SELECT 2, 'append', CAST(n + n31 AS BIGINT) FROM c
      |UNION ALL SELECT 3, 'rollback', CAST(n AS BIGINT) FROM c
      |ORDER BY version""".stripMargin

  /** The `.history` metadata table over the stored-procedure
    * lifecycle (create → append → CALL rollback): ancestry and parent
    * pointers are deterministic given the fixture, so the oracle pins
    * the whole table minus the runtime instants (`made_current_at` is
    * exercised implicitly — the projection casts would fail on a
    * missing column; its VALUES are pinned by the commit-instant
    * spec).
    */
  def historyMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsProc(s, dir)
    s.sql("""SELECT version, parent, is_current_ancestor
             FROM graft.maint.docs_proc.history
             ORDER BY version""")
  }

  val historyMetaOracle: String =
    """SELECT CAST(1 AS INTEGER) AS version, CAST(0 AS INTEGER) AS parent,
      |  TRUE AS is_current_ancestor
      |UNION ALL SELECT 2, 1, TRUE
      |UNION ALL SELECT 3, 2, TRUE
      |ORDER BY version""".stripMargin

  /** Post-MERGE-INTO contents per source: the oracle recomputes the
    * matched-update/unmatched-insert semantics logically, so a hash
    * match proves the SQL row-level-operation path (scan → rewrite →
    * staged parquet write → replace-snapshot commit) upserts exactly
    * like the engine API does.
    */
  def sqlMerge(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMrg(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val sqlMergeOracle: String =
    s"""WITH m AS (
       |  SELECT CASE WHEN doc_id % 37 = 2 THEN 'srcQ' ELSE source END AS source,
       |    text
       |  FROM documents
       |  UNION ALL
       |  SELECT 'srcN' AS source, text FROM documents WHERE doc_id % 41 = 3)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM m
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_parts`: one create + seven appends, each confined to ONE
    * part value and written as a single file — every data file pins a
    * single partition (`partMin == partMax == value`), so the
    * `.partitions` metadata rollup is exactly one row per part value
    * and the oracle recomputes it logically from the raw fixture.
    */
  def ensureDocsParts(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_parts")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b.filter(col(partCol) === 0), partCol,
        numFiles = 1)
    (1 until nParts).foreach { p =>
      if (SnapStore.currentVersion(t).contains(p))
        SnapStore.append(s, t, b.filter(col(partCol) === p), partCol,
          numFiles = 1)
    }
    mount(s, dir)
    t
  }

  /** The `.partitions` metadata table (Iceberg's `table.partitions`):
    * per-partition file/row rollup computed purely from manifest
    * bounds — zero data IO. The lifecycle pins one file per part
    * value, so file_count and the bound pair are logically derivable
    * and the oracle checks the WHOLE rollup, not just totals.
    */
  def partitionsMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsParts(s, dir)
    s.sql("""SELECT partition_spec, part_min, part_max, file_count,
               record_count
             FROM graft.maint.docs_parts.partitions
             ORDER BY part_min""")
  }

  /** `docs_pdel`: the partitions-table delete-debt lifecycle. The
    * same one-file-per-part layout as `docs_parts`, then two pending
    * MOR deletes that stay UNFOLDED: a position delete confined to
    * partition 3 (refs name only that partition's file) and an
    * equality delete (applicable to every data file by sequence) —
    * so `.partitions` shows per-partition delete debt while
    * record_count stays the documented PRE-delete manifest count.
    */
  def ensureDocsPdel(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_pdel")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b.filter(col(partCol) === 0), partCol,
        numFiles = 1)
    (1 until nParts).foreach { p =>
      if (SnapStore.currentVersion(t).contains(p))
        SnapStore.append(s, t, b.filter(col(partCol) === p), partCol,
          numFiles = 1)
    }
    if (SnapStore.currentVersion(t).contains(nParts))
      SnapStore.deletePositions(s, t,
        col(partCol) === 3 && pmod(col("doc_id"), lit(5L)) === 0)
    if (SnapStore.currentVersion(t).contains(nParts + 1))
      SnapStore.deleteEquality(s, t,
        b.filter(pmod(col("doc_id"), lit(11L)) === 0).select("doc_id"),
        "doc_id")
    mount(s, dir)
    t
  }

  /** Per-partition pending-delete debt from the `.partitions`
    * metadata table (ADVICE r8: Iceberg's partitions table exposes
    * delete counts alongside): record_count is PRE-delete, the
    * position-delete file count is exact per partition from the
    * manifest's referenced-data-file field, and the equality-delete
    * count reflects sequence applicability.
    */
  def partitionsDeleteDebt(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPdel(s, dir)
    s.sql("""SELECT part_min, file_count, record_count,
               position_delete_file_count, equality_delete_file_count
             FROM graft.maint.docs_pdel.partitions
             ORDER BY part_min""")
  }

  val partitionsDeleteDebtOracle: String =
    s"""SELECT CAST(doc_id % $nParts AS VARCHAR) AS part_min,
       |  CAST(1 AS INTEGER) AS file_count,
       |  COUNT(*) AS record_count,
       |  CAST(CASE WHEN doc_id % $nParts = 3 THEN 1 ELSE 0 END
       |    AS INTEGER) AS position_delete_file_count,
       |  CAST(1 AS INTEGER) AS equality_delete_file_count
       |FROM documents
       |GROUP BY doc_id % $nParts
       |ORDER BY part_min""".stripMargin

  /** The `.delete_files` metadata table over the `docs_pdel`
    * lifecycle: the pending MOR-debt inventory (kind, key column,
    * row counts, referenced-file counts) recomputed logically by the
    * oracle. Paths/bytes/sequence are non-deterministic across runs
    * (uuids, parquet encoding) and are exercised by the projection
    * casts, not value-pinned.
    */
  def deleteFilesMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPdel(s, dir)
    s.sql("""SELECT kind, key_col, record_count, referenced_files
             FROM graft.maint.docs_pdel.delete_files
             ORDER BY kind""")
  }

  val deleteFilesMetaOracle: String =
    s"""SELECT 'eq' AS kind, 'doc_id' AS key_col,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |   WHERE doc_id % 11 = 0) AS record_count,
       |  CAST(0 AS INTEGER) AS referenced_files
       |UNION ALL
       |SELECT 'pos', '',
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |   WHERE doc_id % $nParts = 3 AND doc_id % 5 = 0),
       |  CAST(1 AS INTEGER)
       |ORDER BY kind""".stripMargin

  /** The `.position_deletes` metadata table over the `docs_pdel`
    * lifecycle — the PAIR-level pending-delete inventory
    * (`.delete_files` is the file-level one): the oracle recomputes
    * the suppressed-pair count logically; file names and ordinals are
    * run-dependent (uuids, layout) and are exercised by the DISTINCT
    * counts, not value-pinned.
    */
  def positionDeletesMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPdel(s, dir)
    s.sql("""SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT file) AS INTEGER) AS n_files,
               CAST(COUNT(DISTINCT delete_file) AS INTEGER) AS n_delete_files
             FROM graft.maint.docs_pdel.position_deletes""")
  }

  val positionDeletesMetaOracle: String =
    s"""SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
       |   WHERE doc_id % $nParts = 3 AND doc_id % 5 = 0) AS n_pairs,
       |  CAST(1 AS INTEGER) AS n_files,
       |  CAST(1 AS INTEGER) AS n_delete_files""".stripMargin

  val partitionsMetaOracle: String =
    s"""SELECT 'part' AS partition_spec,
       |  CAST(doc_id % $nParts AS VARCHAR) AS part_min,
       |  CAST(doc_id % $nParts AS VARCHAR) AS part_max,
       |  CAST(1 AS INTEGER) AS file_count,
       |  COUNT(*) AS record_count
       |FROM documents
       |GROUP BY doc_id % $nParts
       |ORDER BY part_min""".stripMargin

  /** Unique memory-sink names across bench reps in one JVM. */
  private val streamSeq = new java.util.concurrent.atomic.AtomicLong()

  /** `docs_wap`: the write-audit-publish lifecycle (Iceberg's WAP
    * pattern over branch refs). v1 create → batch ONE stages on
    * branch `wap`, its audit (quality gate on the STAGED read, never
    * on main) passes → fast-forward publishes it metadata-only →
    * batch TWO stages on branch `rej`, its audit FAILS (empty texts)
    * → the branch is dropped whole, the batch never reaches main and
    * its files collect as orphans. Main therefore holds exactly
    * base + the audited-good batch.
    */
  def ensureDocsWap(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_wap")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    if (SnapStore.branchHead(t, "wap").isEmpty &&
      SnapStore.currentVersion(t).contains(1))
      SnapStore.createBranch(t, "wap")
    if (SnapStore.branchHead(t, "wap").contains(1))
      SnapStore.appendToBranch(s, t, "wap",
        // +400000 preserves doc_id % 8, so the staged rows keep their
        // partition routing.
        b.filter(pmod(col("doc_id"), lit(17L)) === 0)
          .withColumn("doc_id", col("doc_id") + 400000L)
          .withColumn("source", lit("srcW"))
          .withColumn("text", concat(col("text"), lit(" audited")))
          .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)")),
        partCol)
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "wap").contains(2)) {
      val bad = SnapStore.readBranch(s, t, "wap")
        .filter(col("tok") <= 0 || col("text").isNull ||
          length(col("text")) === 0).count()
      require(bad == 0, s"WAP audit failed on staged batch: $bad bad rows")
      SnapStore.fastForward(t, "wap")
    }
    // The REJECTED cycle runs once (marker-gated: dropBranch leaves
    // no version evidence to key idempotency off).
    val rejected = t.resolve("_wap_rejected_done")
    if (SnapStore.currentVersion(t).contains(2) &&
      !Files.exists(rejected)) {
      if (SnapStore.branchHead(t, "rej").isEmpty)
        SnapStore.createBranch(t, "rej")
      // Branch versions are BRANCH-LOCAL: a fresh fork is head 1
      // whatever main's version.
      if (SnapStore.branchHead(t, "rej").contains(1))
        SnapStore.appendToBranch(s, t, "rej",
          b.filter(pmod(col("doc_id"), lit(23L)) === 0)
            .withColumn("doc_id", col("doc_id") + 500000L)
            .withColumn("text", lit(""))
            .withColumn("tok", lit(0L)),
          partCol)
      val bad = SnapStore.readBranch(s, t, "rej")
        .filter(col("tok") <= 0 || length(col("text")) === 0).count()
      require(bad > 0, "the rejected batch must actually fail its audit")
      SnapStore.dropBranch(t, "rej")
      Files.createFile(rejected)
    }
    mount(s, dir)
    t
  }

  /** Write-audit-publish: main's contents after one audited publish
    * and one audited REJECTION. The oracle recomputes base + the
    * good batch; a hash match proves the gate published exactly the
    * audited rows and the rejected batch never leaked into main.
    */
  def wapPublish(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsWap(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val wapPublishOracle: String =
    s"""WITH live AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 400000, text || ' audited'
       |  FROM documents WHERE doc_id % 17 = 0)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_wapc`: the CONF-driven write-audit-publish lifecycle —
    * Iceberg's `spark.wap.branch` face. With the session conf set,
    * UNMODIFIED catalog writes stage on the conf's branch (which
    * materializes at first write): an `INSERT INTO`, then an UPDATE
    * and a DELETE scoped to the staged rows, each committing on the
    * branch chain. The lifecycle PROVES main never moved through all
    * three, that a conf-routed read and `VERSION AS OF '<branch>'`
    * both see the staged state while a plain (conf-unset) read does
    * not, audits the staged read, and publishes atomically by
    * fast-forward. Contrast [[ensureDocsWap]], which composes the
    * same lifecycle from explicit branch verbs.
    */
  def ensureDocsWapConf(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_wapc")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    mount(s, dir)
    val confKey = "spark.graft.wap.branch"
    if (SnapStore.branchHead(t, "audit").isEmpty &&
      SnapStore.currentVersion(t).contains(1)) {
      val old = s.conf.getOption(confKey)
      s.conf.set(confKey, "audit")
      try {
        // +600000 preserves doc_id % 8, so staged rows keep their
        // partition routing.
        b.filter(pmod(col("doc_id"), lit(19L)) === 0)
          .withColumn("doc_id", col("doc_id") + 600000L)
          .withColumn("source", lit("srcC"))
          .withColumn("text", concat(col("text"), lit(" staged")))
          .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
          .createOrReplaceTempView("wapc_batch")
        s.sql("INSERT INTO graft.maint.docs_wapc SELECT * FROM wapc_batch")
        // The staged write must NOT move main, and the conf-routed
        // read must see the staged batch.
        require(SnapStore.currentVersion(t).contains(1),
          "WAP-conf INSERT moved main — staging is broken")
        val staged = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_wapc " +
          "WHERE doc_id >= 600000").collect()(0).getLong(0)
        require(staged > 0, "conf-routed read must serve the staged branch")
        // Unmodified DML stages too: an UPDATE and a DELETE scoped to
        // the staged rows land on the branch chain — main never moves
        // (the oracle recomputes both effects).
        s.sql("UPDATE graft.maint.docs_wapc SET text = concat(text, ' v2') " +
          "WHERE doc_id >= 600000 AND doc_id % 2 = 0")
        s.sql("DELETE FROM graft.maint.docs_wapc " +
          "WHERE doc_id >= 600000 AND doc_id % 3 = 0")
        require(SnapStore.currentVersion(t).contains(1),
          "WAP-conf DML moved main — staging is broken")
        require(SnapStore.branchHead(t, "audit").contains(4),
          "each staged DML must commit on the branch chain")
      } finally old match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
      // With the conf unset: plain reads serve main (no staged rows),
      // explicit branch time travel serves the staged state.
      val plain = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_wapc " +
        "WHERE doc_id >= 600000").collect()(0).getLong(0)
      require(plain == 0L,
        s"staged rows leaked into a plain read ($plain rows)")
      val tt = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_wapc " +
        "VERSION AS OF 'audit' WHERE doc_id >= 600000").collect()(0).getLong(0)
      require(tt > 0, "VERSION AS OF '<branch>' must see the staged write")
    }
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "audit").contains(4)) {
      val bad = SnapStore.readBranch(s, t, "audit")
        .filter(col("tok") <= 0 || col("text").isNull ||
          length(col("text")) === 0).count()
      require(bad == 0, s"WAP audit failed on staged batch: $bad bad rows")
      SnapStore.fastForward(t, "audit")
    }
    t
  }

  /** Conf-driven write-audit-publish: main's contents after one
    * staged-by-conf `INSERT INTO` published. The oracle recomputes
    * base + the staged batch; the hash match plus the lifecycle's
    * internal requires prove the conf staged without moving main and
    * the publish landed exactly the audited rows.
    */
  def wapConfPublish(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsWapConf(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val wapConfPublishOracle: String =
    s"""WITH staged AS (
       |  SELECT doc_id + 600000 AS doc_id,
       |    text || ' staged' ||
       |      (CASE WHEN doc_id % 2 = 0 THEN ' v2' ELSE '' END) AS text,
       |    CAST(len(string_split(text || ' staged', ' ')) AS BIGINT) AS tok
       |  FROM documents
       |  WHERE doc_id % 19 = 0 AND NOT doc_id % 3 = 0),
       |live AS (
       |  SELECT doc_id, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id, text, tok FROM staged)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_wapmor`: WAP staging of MERGE-ON-READ delta DML (VERDICT
    * r13 #2 — lifts the r13 refusal). The table's write modes are
    * merge-on-read; with `spark.graft.wap.branch` set, an unmodified
    * DELETE and MERGE stage position-delete files + new data files ON
    * THE BRANCH — main's manifest and its data-file BYTES provably
    * frozen through both — the audit reads the staged (delete-aware)
    * branch state, and fast-forward publishes data and delete files
    * with their relative sequence order preserved (the Iceberg
    * WAP + MOR combination real 100 TB tables run).
    */
  def ensureDocsWapMor(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_wapmor")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty) {
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
      SnapStore.setProperties(t, Map(
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    }
    mount(s, dir)
    val confKey = "spark.graft.wap.branch"
    // Self-heal a PARTIALLY staged lifecycle (a crash between the
    // staged DELETE and the staged MERGE would otherwise wedge this
    // face forever: staging skipped because the branch exists,
    // publish skipped because the head is short): drop the partial
    // branch and restage whole — staging is then restart-idempotent
    // like every sibling ensure* lifecycle.
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "morstage").exists(_ != 3))
      SnapStore.dropBranch(t, "morstage")
    if (SnapStore.branchHead(t, "morstage").isEmpty &&
      SnapStore.currentVersion(t).contains(1)) {
      val mainBytes = SnapStore.currentManifest(t).files
        .map(f => f.path -> Files.getLastModifiedTime(t.resolve(f.path)))
        .toMap
      val old = s.conf.getOption(confKey)
      s.conf.set(confKey, "morstage")
      try {
        s.sql("DELETE FROM graft.maint.docs_wapmor WHERE doc_id % 13 = 5")
        require(SnapStore.currentVersion(t).contains(1),
          "staged MOR DELETE moved main — staging is broken")
        val bh = SnapStore.branchHeadManifest(t, "morstage")
        require(bh.operation == "delete-mor" && bh.deleteFiles.nonEmpty,
          "the staged DELETE must land delete files on the branch chain")
        // A staged MERGE stacks on the staged delete: its scan reads
        // the branch head delete-aware, its delta commits as a second
        // branch snapshot.
        b.filter(pmod(col("doc_id"), lit(19L)) === 2 &&
            pmod(col("doc_id"), lit(13L)) =!= 5)
          .withColumn("source", lit("wmU"))
          .unionByName(b.filter(pmod(col("doc_id"), lit(31L)) === 3)
            .withColumn("doc_id", col("doc_id") + 800000L)
            .withColumn("source", lit("wmI")))
          .createOrReplaceTempView("graft_wapmor_src")
        s.sql(
          """MERGE INTO graft.maint.docs_wapmor t
            |USING graft_wapmor_src s
            |ON t.doc_id = s.doc_id
            |WHEN MATCHED THEN UPDATE SET t.source = s.source
            |WHEN NOT MATCHED THEN INSERT
            |  (doc_id, part, source, text, tok)
            |  VALUES (s.doc_id, s.part, s.source, s.text, s.tok)""".stripMargin)
        require(SnapStore.currentVersion(t).contains(1),
          "staged MOR MERGE moved main — staging is broken")
        require(SnapStore.branchHeadManifest(t, "morstage")
          .operation == "merge-mor",
          "the MERGE must route merge-on-read onto the branch")
        // The audit reads the staged state: the staged delete files
        // fold into the conf-routed read.
        val leaked = s.sql(
          "SELECT COUNT(*) AS n FROM graft.maint.docs_wapmor " +
            "WHERE doc_id % 13 = 5 AND doc_id < 800000")
          .collect()(0).getLong(0)
        require(leaked == 0,
          s"the staged read must fold the staged delete files ($leaked rows)")
      } finally old match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
      // Main BYTE-frozen through both staged deltas — the whole point
      // of WAP + MOR: zero base rewrite, zero main movement.
      mainBytes.foreach { case (p, ts) =>
        require(Files.getLastModifiedTime(t.resolve(p)) == ts,
          s"main data file $p changed during staging")
      }
      val plain = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_wapmor " +
        "WHERE doc_id >= 800000").collect()(0).getLong(0)
      require(plain == 0L,
        s"staged rows leaked into a plain (conf-unset) read ($plain rows)")
    }
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "morstage").contains(3))
      SnapStore.fastForward(t, "morstage")
    t
  }

  /** WAP × MOR publish face: per-source contents of main AFTER the
    * staged delete+merge published — the adopted delete files apply
    * on main's read exactly as they did on the branch (fast-forward
    * preserved their relative sequence order). The oracle recomputes
    * the final state logically.
    */
  def wapMorPublish(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsWapMor(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val wapMorPublishOracle: String =
    s"""WITH fin AS (
       |  SELECT CASE WHEN doc_id % 19 = 2 THEN 'wmU' ELSE source END
       |    AS source, text
       |  FROM documents
       |  WHERE NOT doc_id % 13 = 5
       |  UNION ALL
       |  SELECT 'wmI' AS source, text FROM documents WHERE doc_id % 31 = 3)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM fin
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_hours`: the `hours(ts)` hidden partition transform
    * (VERDICT r13 #3 — Iceberg's `hour`, the grain event warehouses
    * partition at). Six hourly partitions derived from doc_id, then a
    * one-hour-scoped SQL DELETE; the oracle recomputes the hour
    * derivation and the delete logically, so a hash match proves the
    * transform's write clustering, int hour bounds, and the
    * delete composed correctly. The prune/SPJ physical claims are
    * HoursTransformSpec's.
    */
  def ensureDocsHours(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_hours")
    if (SnapStore.currentVersion(t).isEmpty) {
      val df = base(s, dir).withColumn("ts", expr(
        "timestamp_micros((473000 + doc_id % 6) * 3600000000 + " +
          "(doc_id % 60) * 60000000)"))
      SnapStore.create(s, t, df, "hours(ts)")
    }
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1))
      s.sql("DELETE FROM graft.maint.docs_hours WHERE " +
        "ts >= timestamp_micros(473002 * 3600000000) AND " +
        "ts < timestamp_micros(473003 * 3600000000) AND tok % 2 = 0")
    t
  }

  def hoursPartition(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsHours(s, dir)
    SnapStore.read(s, t)
      .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n_docs"), checksum(col("text")).as("chk"))
      .orderBy(col("hr"))
  }

  val hoursPartitionOracle: String =
    s"""WITH f AS (
       |  SELECT CAST(473000 + doc_id % 6 AS BIGINT) AS hr, text
       |  FROM documents
       |  WHERE NOT (doc_id % 6 = 2 AND
       |    len(string_split(text, ' ')) % 2 = 0))
       |SELECT hr, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM f
       |GROUP BY hr
       |ORDER BY hr""".stripMargin

  /** `docs_brddl`: the full branch lifecycle driven by the SQL DDL
    * statements Iceberg serves through its parser extensions
    * (VERDICT r14 #1 — `GraftSqlParser`): `ALTER TABLE … CREATE
    * BRANCH audit2 RETAIN 30 DAYS` forks by DDL, `ALTER TABLE …
    * CREATE TAG prepub AS OF VERSION 1` pins the pre-publish state,
    * an unmodified `INSERT INTO` under `spark.graft.wap.branch`
    * stages on the DDL-created branch (main provably frozen), the
    * audit reads `VERSION AS OF 'audit2'`, `CALL …fast_forward`
    * publishes, and `ALTER TABLE … DROP BRANCH` retires the staging
    * ref. The oracle recomputes base + the staged batch, so a hash
    * match proves the DDL-driven lifecycle landed exactly the
    * audited rows; each statement's error cases are SqlDdlSpec's.
    */
  def ensureDocsBrDdl(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_brddl")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "audit2").isEmpty) {
      s.sql("ALTER TABLE graft.maint.docs_brddl CREATE BRANCH audit2 " +
        "RETAIN 30 DAYS")
      s.sql("ALTER TABLE graft.maint.docs_brddl CREATE TAG prepub " +
        "AS OF VERSION 1")
      require(SnapStore.tableProperties(t)
        .get("ref.audit2.max-ref-age-ms")
        .contains((30L * 86400000L).toString),
        "RETAIN must persist the per-ref age property")
    }
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "audit2").contains(1)) {
      val confKey = "spark.graft.wap.branch"
      val old = s.conf.getOption(confKey)
      s.conf.set(confKey, "audit2")
      try {
        // +700000 preserves doc_id % 8, so staged rows keep their
        // partition routing.
        b.filter(pmod(col("doc_id"), lit(23L)) === 0)
          .withColumn("doc_id", col("doc_id") + 700000L)
          .withColumn("source", lit("srcQ"))
          .withColumn("text", concat(col("text"), lit(" ddl")))
          .withColumn("tok", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
          .createOrReplaceTempView("brddl_batch")
        s.sql("INSERT INTO graft.maint.docs_brddl " +
          "SELECT * FROM brddl_batch")
        require(SnapStore.currentVersion(t).contains(1),
          "the staged INSERT must not move main")
      } finally old match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
    }
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, "audit2").contains(2)) {
      // The audit reads the staged state by branch time travel.
      val staged = s.sql("SELECT COUNT(*) AS n FROM " +
        "graft.maint.docs_brddl VERSION AS OF 'audit2' " +
        "WHERE doc_id >= 700000").collect()(0).getLong(0)
      require(staged > 0, "the audit must see the staged batch")
      s.sql("CALL graft.system.fast_forward('maint.docs_brddl', 'audit2')")
      // Publish done: the DDL-pinned tag still reads the pre-publish
      // state, and the staging branch retires by DDL.
      val pre = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_brddl " +
        "VERSION AS OF 'prepub' WHERE doc_id >= 700000")
        .collect()(0).getLong(0)
      require(pre == 0L, "the AS OF VERSION tag must pin pre-publish")
      s.sql("ALTER TABLE graft.maint.docs_brddl DROP BRANCH audit2")
    }
    t
  }

  /** DDL-driven branch lifecycle: main's contents per source after
    * the publish. See [[ensureDocsBrDdl]].
    */
  def branchDdl(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsBrDdl(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val branchDdlOracle: String =
    s"""WITH b AS (
       |  SELECT source, text FROM documents
       |  UNION ALL
       |  SELECT 'srcQ' AS source, text || ' ddl' AS text
       |  FROM documents WHERE doc_id % 23 = 0)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM b
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_variant`: the VARIANT type (Iceberg v3 / Spark 4.1,
    * VERDICT r14 #7) through the native path end to end — SQL
    * `CREATE TABLE … (payload VARIANT)` on the DSv2 catalog, an
    * INSERT building payloads with `parse_json`, a merge-on-read SQL
    * DELETE over the variant-carrying table (delete pairs — the
    * variant column itself never rewrites), and a native batch read
    * whose `variant_get` predicate stays RESIDUAL (no pushdown
    * translation exists for variant paths — correctness by re-apply
    * above the scan). The oracle recomputes every extracted field
    * from the fixture columns the JSON was built from, so a hash
    * match proves parquet variant encode/decode round-tripped
    * through write, MOR read, and extraction. Compaction-preserves-
    * values is Round15FixesSpec's.
    */
  def ensureDocsVariant(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_variant")
    mount(s, dir)
    if (SnapStore.currentVersion(t).isEmpty) {
      s.sql("""CREATE TABLE graft.maint.docs_variant
        (doc_id BIGINT, part BIGINT, payload VARIANT)
        PARTITIONED BY (part)
        TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')""")
      base(s, dir).selectExpr("doc_id", "part",
        "parse_json(concat('{\"flag\":', CAST(doc_id % 2 AS STRING), " +
          "',\"len\":', CAST(tok AS STRING), " +
          "',\"src\":\"', source, '\"}')) AS payload")
        .createOrReplaceTempView("variant_seed")
      s.sql("INSERT INTO graft.maint.docs_variant " +
        "SELECT * FROM variant_seed")
    }
    if (SnapStore.currentVersion(t).contains(2))
      s.sql("DELETE FROM graft.maint.docs_variant WHERE doc_id % 13 = 5")
    t
  }

  def variantTable(s: SparkSession, dir: String): DataFrame = {
    ensureDocsVariant(s, dir)
    s.sql("SELECT part, payload FROM graft.maint.docs_variant " +
      "WHERE variant_get(payload, '$.flag', 'long') = 1")
      .groupBy(col("part"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("variant_get(payload, '$.len', 'long')")).as("sum_len"),
        checksum(expr("variant_get(payload, '$.src', 'string')")).as("chk"))
      .orderBy(col("part"))
  }

  val variantTableOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id % $nParts AS part, doc_id % 2 AS flag,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len, source
       |  FROM documents
       |  WHERE NOT doc_id % 13 = 5)
       |SELECT part, COUNT(*) AS n_docs,
       |  CAST(SUM(len) AS BIGINT) AS sum_len,
       |  CAST(SUM(${foldSql("source")}) AS BIGINT) AS chk
       |FROM f
       |WHERE flag = 1
       |GROUP BY part
       |ORDER BY part""".stripMargin

  /** `docs_pstats`: partition statistics (VERDICT r14 #5 — Iceberg's
    * partition-stats files, extended with partition-grain per-column
    * NDV/null/bounds): one `compute_partition_stats` CALL — a single
    * distributed agg grouped by the partition transform — persists
    * the stats beside the manifests, and `.partition_stats` serves
    * them with zero data IO. The oracle recomputes every value
    * (exact NDV, not sketched) from the fixture, so a hash match
    * proves the grouped stats job and the metadata surface end to
    * end. Spec-evolution staleness is Round15FixesSpec's.
    */
  def ensureDocsPstats(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_pstats")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    mount(s, dir)
    if (SnapStore.tablePartitionStats(t).isEmpty)
      s.sql("CALL graft.system.compute_partition_stats(" +
        "'maint.docs_pstats', 'source,tok')")
    t
  }

  def partitionStats(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPstats(s, dir)
    s.sql("""SELECT partition AS part_value, `column` AS col_name,
      row_count, ndv, null_count, `min` AS min_val, `max` AS max_val
      FROM graft.maint.docs_pstats.partition_stats
      ORDER BY part_value, col_name""")
  }

  /** Incremental partition-stats lifecycle (VERDICT r15 #3/#8):
    * full `compute_partition_stats` at v1, a partition-CONFINED
    * append (part 2 only, ids shifted by a multiple of 8 so the
    * partition routing is preserved), then the `mode =>
    * 'incremental'` CALL — which the fixture REQUIREs to have
    * (a) taken the incremental path, scanning ONLY the files whose
    * bounds intersect the touched partition, and (b) left stats
    * byte-equal to a from-scratch recompute. The entry serves the
    * refreshed `.partition_stats` surface (stale = false after the
    * refresh); the oracle recomputes every partition's stats over
    * base ∪ appended logically.
    */
  def ensureDocsPstatsInc(s: SparkSession, dir: String): Path =
    synchronized {
      val t = root(dir).resolve("docs_pstats2")
      if (SnapStore.currentVersion(t).isEmpty)
        SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
      mount(s, dir)
      if (SnapStore.tablePartitionStats(t).isEmpty)
        s.sql("CALL graft.system.compute_partition_stats(" +
          "'maint.docs_pstats2', 'source,tok')")
      if (SnapStore.currentVersion(t).contains(1))
        SnapStore.append(s, t, base(s, dir)
          .filter(col(partCol) === 2L && pmod(col("doc_id"), lit(5L)) === 0)
          .withColumn("doc_id", col("doc_id") + 800000L), partCol)
      if (SnapStore.tablePartitionStats(t).exists(_._1 == 1) &&
        SnapStore.currentVersion(t).contains(2)) {
        // `stale` shows on the surface before the refresh.
        val staleFlags = s.sql("SELECT DISTINCT stale FROM " +
          "graft.maint.docs_pstats2.partition_stats").collect()
          .map(_.getBoolean(0)).toSeq
        require(staleFlags == Seq(true),
          s"post-append stats must surface stale=true, got $staleFlags")
        val nFiles = SnapStore.currentManifest(t).files.size
        val (inc, scanned) = SnapStore.computePartitionStatsIncremental(
          s, t, Seq("source", "tok"))
        require(scanned.exists(n => n > 0 && n < nFiles),
          s"the incremental path must scan only the touched " +
            s"partition's files, got $scanned of $nFiles")
        val fullRecompute =
          SnapStore.computePartitionStats(s, t, Seq("source", "tok"))
        require(inc == fullRecompute,
          "incremental merge-by-replacement must equal the full " +
            "recompute exactly")
      }
      t
    }

  def partitionStatsInc(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPstatsInc(s, dir)
    s.sql("""SELECT partition AS part_value, `column` AS col_name,
      row_count, ndv, null_count, `min` AS min_val, `max` AS max_val,
      stale
      FROM graft.maint.docs_pstats2.partition_stats
      ORDER BY part_value, col_name""")
  }

  val partitionStatsIncOracle: String =
    s"""WITH b AS (
       |  SELECT CAST(doc_id % $nParts AS VARCHAR) AS part_value, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents
       |  UNION ALL
       |  SELECT '2', source, CAST(len(string_split(text, ' ')) AS BIGINT)
       |  FROM documents WHERE doc_id % $nParts = 2 AND doc_id % 5 = 0),
       |per_part AS (
       |  SELECT part_value, COUNT(*) AS row_count,
       |    COUNT(DISTINCT source) AS ndv_source,
       |    COUNT(DISTINCT tok) AS ndv_tok,
       |    CAST(MIN(tok) AS VARCHAR) AS min_tok,
       |    CAST(MAX(tok) AS VARCHAR) AS max_tok
       |  FROM b GROUP BY part_value)
       |SELECT part_value, 'source' AS col_name, row_count,
       |  ndv_source AS ndv, CAST(0 AS BIGINT) AS null_count,
       |  CAST(NULL AS VARCHAR) AS min_val, CAST(NULL AS VARCHAR) AS max_val,
       |  FALSE AS stale
       |FROM per_part
       |UNION ALL
       |SELECT part_value, 'tok' AS col_name, row_count,
       |  ndv_tok AS ndv, CAST(0 AS BIGINT) AS null_count,
       |  min_tok AS min_val, max_tok AS max_val, FALSE AS stale
       |FROM per_part
       |ORDER BY part_value, col_name""".stripMargin

  val partitionStatsOracle: String =
    s"""WITH b AS (
       |  SELECT CAST(doc_id % $nParts AS VARCHAR) AS part_value, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |per_part AS (
       |  SELECT part_value, COUNT(*) AS row_count,
       |    COUNT(DISTINCT source) AS ndv_source,
       |    COUNT(DISTINCT tok) AS ndv_tok,
       |    CAST(MIN(tok) AS VARCHAR) AS min_tok,
       |    CAST(MAX(tok) AS VARCHAR) AS max_tok
       |  FROM b GROUP BY part_value)
       |SELECT part_value, 'source' AS col_name, row_count,
       |  ndv_source AS ndv, CAST(0 AS BIGINT) AS null_count,
       |  CAST(NULL AS VARCHAR) AS min_val, CAST(NULL AS VARCHAR) AS max_val
       |FROM per_part
       |UNION ALL
       |SELECT part_value, 'tok' AS col_name, row_count,
       |  ndv_tok AS ndv, CAST(0 AS BIGINT) AS null_count,
       |  min_tok AS min_val, max_tok AS max_val
       |FROM per_part
       |ORDER BY part_value, col_name""".stripMargin

  /** `docs_cfil`: FILTERED compaction (Iceberg
    * `rewrite_data_files(where => …)`) — v1 deliberately fragmented
    * create, then a `CALL graft.system.rewrite_data_files_where`
    * scoped to `part <= 2`: in-scope files bin-pack, every file whose
    * bounds sit entirely outside the predicate carries byte-identical
    * under its original path. The lifecycle REQUIRES both structural
    * facts; on a 100 TB table this is the only runnable form of
    * compaction (rewrite the hot partitions, never touch the cold).
    */
  def ensureDocsCompactFiltered(s: SparkSession, dir: String): Path =
    synchronized {
      val t = root(dir).resolve("docs_cfil")
      if (SnapStore.currentVersion(t).isEmpty)
        SnapStore.create(s, t, base(s, dir), partCol, numFiles = 32,
          clusterExprs = Seq(col(partCol), pmod(col("doc_id"), lit(4L))))
      mount(s, dir)
      if (SnapStore.currentVersion(t).contains(1)) {
        val before = SnapStore.currentManifest(t)
        val total = before.files.map(_.bytes).sum
        s.sql("CALL graft.system.rewrite_data_files_where(" +
          s"'maint.docs_cfil', ${total}L, 'part <= 2')")
        val after = SnapStore.currentManifest(t)
        val outside = before.files.filter(_.partMin.toLong > 2)
        require(outside.nonEmpty, "fixture must have out-of-scope files")
        val afterPaths = after.files.map(_.path).toSet
        require(outside.forall(f => afterPaths(f.path)),
          "out-of-scope files must carry under their original paths")
        val inBefore = before.files.count(_.partMin.toLong <= 2)
        val inAfter = after.files.count(_.partMin.toLong <= 2)
        require(inAfter < inBefore,
          s"in-scope files must bin-pack ($inBefore -> $inAfter)")
      }
      t
    }

  /** Filtered compaction: full-table contents after a predicate-
    * scoped rewrite — the hash match proves the partial bin-pack
    * changed LAYOUT only (no row lost, duplicated, or reordered into
    * a different partition), while the lifecycle's requires pin the
    * structural claim (out-of-scope files carried, in-scope packed).
    */
  def compactFiltered(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsCompactFiltered(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val compactFilteredOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Two co-partitioned tables for the storage-partitioned-join
    * lifecycle: disjoint document slices, written one partition value
    * per commit so every data file is PROVABLY single-valued — the
    * layout [[graft.sources.SnapSpj]] requires before reporting
    * KeyGroupedPartitioning.
    */
  def ensureDocsSpj(s: SparkSession, dir: String): (Path, Path) =
    synchronized {
      def build(name: String, mod3: Long): Path = {
        val t = root(dir).resolve(name)
        if (SnapStore.currentVersion(t).isEmpty) {
          val rows = base(s, dir)
            .filter(pmod(col("doc_id"), lit(3L)) === mod3)
          SnapStore.create(s, t, rows.filter(col(partCol) === 0L), partCol)
          (1L until nParts.toLong).foreach(p =>
            SnapStore.append(s, t, rows.filter(col(partCol) === p), partCol))
        }
        t
      }
      val ta = build("docs_spj_a", 0L)
      val tb = build("docs_spj_b", 1L)
      mount(s, dir)
      (ta, tb)
    }

  /** Storage-partitioned join (SPARK-37377; Iceberg's SPJ): two snap
    * tables co-partitioned on `part` join on it with the session's
    * v2-bucketing opt-in — the entry REQUIRES the executed plan to
    * contain at most the final ORDER BY exchange (the join consumed
    * the scans' KeyGroupedPartitioning; neither side shuffled), then
    * returns the aggregate for the oracle, which recomputes the join
    * logically. The result is collected inside the entry so the conf
    * flip is scoped to it and restored for the rest of the suite.
    */
  def spjJoin(s: SparkSession, dir: String): DataFrame = {
    val (_, _) = ensureDocsSpj(s, dir)
    val olds = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> s.conf.getOption(k))
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.sql(
        """SELECT a.part, COUNT(*) AS n_pairs,
          |  SUM(a.tok + b.tok) AS sum_tok
          |FROM graft.maint.docs_spj_a a
          |JOIN graft.maint.docs_spj_b b ON a.part = b.part
          |GROUP BY a.part ORDER BY a.part""".stripMargin)
      val rows = j.collect()
      val exch = exchangeCount(j.queryExecution.executedPlan)
      require(exch <= 1,
        s"storage-partitioned join must not shuffle the fact sides " +
          s"(found $exch exchanges):\n${j.queryExecution.executedPlan}")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** `docs_clm`: changelog over a MOR equality-delete commit — v1
    * create, v2 a pure delete-file commit (every seventh doc of
    * partition 6). The changelog nets v1→v2 into DELETE rows straight
    * from the manifest-listed keys, reading only key-bounds-matching
    * files — no table rewrite, no applyDeletes fold first.
    */
  def ensureDocsChangelogMor(s: SparkSession, dir: String): Path =
    synchronized {
      val t = root(dir).resolve("docs_clm")
      if (SnapStore.currentVersion(t).isEmpty)
        SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
      if (SnapStore.currentVersion(t).contains(1))
        SnapStore.deleteEquality(s, t,
          base(s, dir).filter(col(partCol) === 6 &&
            pmod(col("doc_id"), lit(7L)) === 0).select(col("doc_id")),
          "doc_id")
      mount(s, dir)
      t
    }

  /** Changelog netting of a MOR delete commit: the v1→v2 changelog of
    * a delete-file-only commit — every row surfaces as a DELETE with
    * the full pre-image contents, nothing else. The oracle recomputes
    * the deleted slice; a hash match proves the netting emitted
    * exactly the suppressed rows.
    */
  def changelogMor(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsChangelogMor(s, dir)
    SnapStore.changelogRead(s, t, 1, 2)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("_change_type"))
  }

  val changelogMorOracle: String =
    s"""SELECT 'DELETE' AS _change_type, COUNT(*) AS n_rows,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % $nParts = 6 AND doc_id % 7 = 0""".stripMargin

  /** `docs_af`: the `.all_files` retention-set lifecycle — v1 create,
    * v2 main append, then a branch fork taking its own append. The
    * branch's exclusive files are referenced by NO main snapshot, so
    * `.all_files` (live ∪ branch-referenced) strictly exceeds the
    * current snapshot's `.files` — the set expiry and orphan sweeps
    * must never delete.
    */
  def ensureDocsAllFiles(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_af")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol)
    if (SnapStore.currentVersion(t).contains(1))
      // +800000 preserves doc_id % 8.
      SnapStore.append(s, t,
        b.filter(pmod(col("doc_id"), lit(13L)) === 0)
          .withColumn("doc_id", col("doc_id") + 800000L), partCol)
    if (SnapStore.branchHead(t, "side").isEmpty &&
      SnapStore.currentVersion(t).contains(2))
      SnapStore.createBranch(t, "side")
    if (SnapStore.branchHead(t, "side").contains(1))
      SnapStore.appendToBranch(s, t, "side",
        b.filter(pmod(col("doc_id"), lit(23L)) === 0)
          .withColumn("doc_id", col("doc_id") + 900000L), partCol)
    mount(s, dir)
    t
  }

  /** `.all_files` metadata table: row totals of the FULL retention
    * set vs the current snapshot — the branch's exclusive rows are
    * exactly the difference. Pure manifest metadata, zero data IO;
    * the oracle recomputes all three totals from the fixture logic.
    */
  def allFilesMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsAllFiles(s, dir)
    // content=0: data-file row totals (the table also lists pending
    // MOR delete files; this fixture carries none).
    s.table("graft.maint.docs_af.all_files")
      .filter(col("content") === 0).agg(
      sum(col("record_count")).as("all_rows"),
      sum(when(col("in_current"), col("record_count")).otherwise(0L))
        .as("live_rows"),
      sum(when(!col("in_current"), col("record_count")).otherwise(0L))
        .as("branch_only_rows"))
  }

  val allFilesMetaOracle: String =
    s"""WITH c AS (SELECT COUNT(*) AS n FROM documents),
       |a AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 13 = 0),
       |b AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 23 = 0)
       |SELECT CAST(c.n + a.n + b.n AS BIGINT) AS all_rows,
       |  CAST(c.n + a.n AS BIGINT) AS live_rows,
       |  CAST(b.n AS BIGINT) AS branch_only_rows
       |FROM c, a, b""".stripMargin

  /** Co-partitioned fixture pair with MISMATCHED partition-value
    * sets for the partially-clustered SPJ lifecycle: A covers parts
    * 0..5, B covers 2..7 — each side holds values the other lacks,
    * the layout a skewed or lagging fact-fact join actually has.
    * Per-value commits keep every file provably single-valued.
    */
  def ensureDocsSpjPartial(s: SparkSession, dir: String): (Path, Path) =
    synchronized {
      def build(name: String, mod3: Long, lo: Long, hi: Long): Path = {
        val t = root(dir).resolve(name)
        if (SnapStore.currentVersion(t).isEmpty) {
          val rows = base(s, dir)
            .filter(pmod(col("doc_id"), lit(3L)) === mod3 &&
              col(partCol) >= lo && col(partCol) <= hi)
          SnapStore.create(s, t, rows.filter(col(partCol) === lo), partCol)
          ((lo + 1) to hi).foreach(p =>
            SnapStore.append(s, t, rows.filter(col(partCol) === p), partCol))
        }
        t
      }
      val ta = build("docs_spjp_a", 0L, 0L, 5L)
      val tb = build("docs_spjp_b", 1L, 2L, 7L)
      mount(s, dir)
      (ta, tb)
    }

  /** Partially-clustered storage-partitioned join (SPARK-37377 +
    * pushed partition values): the two sides' partition-value sets
    * DIFFER, and under `pushPartValues.enabled` Spark aligns the
    * union value set — missing groups plan as empty partitions — so
    * the FULL OUTER join still runs with ZERO shuffles below the
    * join. The entry REQUIRES that plan shape; the oracle recomputes
    * the outer-complete join logically (every A-only and B-only
    * partition must surface with the other side null).
    */
  def spjPartialJoin(s: SparkSession, dir: String): DataFrame = {
    ensureDocsSpjPartial(s, dir)
    val olds = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> s.conf.getOption(k))
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.sql(
        """SELECT COALESCE(a.part, b.part) AS part,
          |  COUNT(a.doc_id) AS n_a, COUNT(b.doc_id) AS n_b,
          |  SUM(a.tok + b.tok) AS sum_tok
          |FROM graft.maint.docs_spjp_a a
          |FULL OUTER JOIN graft.maint.docs_spjp_b b ON a.part = b.part
          |GROUP BY COALESCE(a.part, b.part)
          |ORDER BY part""".stripMargin)
      val rows = j.collect()
      val below = graft.plans.PlanShape
        .exchangesBelowJoin(j.queryExecution.executedPlan)
      require(below.contains(0),
        s"partially-clustered SPJ must not shuffle below the join " +
          s"(found $below):\n${j.queryExecution.executedPlan}")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val spjPartialJoinOracle: String =
    s"""WITH a AS (
       |  SELECT doc_id, doc_id % $nParts AS part,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents
       |  WHERE doc_id % 3 = 0 AND doc_id % $nParts BETWEEN 0 AND 5),
       |b AS (
       |  SELECT doc_id, doc_id % $nParts AS part,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents
       |  WHERE doc_id % 3 = 1 AND doc_id % $nParts BETWEEN 2 AND 7)
       |SELECT COALESCE(a.part, b.part) AS part,
       |  COUNT(a.doc_id) AS n_a, COUNT(b.doc_id) AS n_b,
       |  CAST(SUM(a.tok + b.tok) AS BIGINT) AS sum_tok
       |FROM a FULL OUTER JOIN b ON a.part = b.part
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Dynamic partition pruning through the native scan's runtime
    * filter face: a selective one-row dimension predicate reaches the
    * pending-MOR fact scan as a runtime IN-filter, pruning whole
    * files by manifest bounds BEFORE any parquet IO. The entry
    * REQUIRES the injected `dynamicpruningexpression` in the executed
    * plan, and the oracle recomputes the surviving partition's
    * delete-adjusted contents — proving DPP and merge-on-read compose.
    */
  def dppPrune(s: SparkSession, dir: String): DataFrame = {
    ensureDocsPos(s, dir)
    s.range(0, nParts.toLong).select(col("id").as("part"),
        concat(lit("p-"), col("id")).as("name"))
      .createOrReplaceTempView("maint_dpp_dim")
    val q = s.sql(
      s"""SELECT f.part, COUNT(*) AS n_docs, SUM(f.tok) AS sum_tok,
         |  SUM(fold_hash(f.text, 31, 0, $P)) AS chk
         |FROM graft.maint.docs_pos f
         |JOIN maint_dpp_dim d ON f.part = d.part
         |WHERE d.name = 'p-4'
         |GROUP BY f.part ORDER BY f.part""".stripMargin)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString()
    require(plan.contains("dynamicpruningexpression"),
      s"the dim predicate must reach the fact scan as a runtime " +
        s"filter:\n$plan")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
  }

  val dppPruneOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % $nParts = 4 AND NOT doc_id % 3 = 0
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Shuffle-exchange count in the FINAL physical plan — the shared
    * AQE-unwrapping walker ([[graft.plans.PlanShape.exchangeCount]]),
    * the SAME definition SpjSpec asserts with (ADVICE r10).
    */
  private def exchangeCount(
      p: org.apache.spark.sql.execution.SparkPlan): Int =
    graft.plans.PlanShape.exchangeCount(p)

  /** Bucketed SPJ lifecycle: two tables partitioned `bucket(4,
    * doc_id)` (per-bucket commits → single-valued files on the
    * bucket number), joined on the SOURCE column `doc_id` — the
    * high-cardinality fact-fact join. The entry REQUIRES the
    * shuffle-free plan like [[spjJoin]]; the oracle recomputes the
    * join logically (bucket routing must not lose or duplicate any
    * key pair).
    */
  def spjBucketJoin(s: SparkSession, dir: String): DataFrame = {
    ensureDocsSpjBucket(s, dir)
    val olds = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> s.conf.getOption(k))
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.sql(
        """SELECT COUNT(*) AS n_pairs, SUM(a.tok + b.tok) AS sum_tok,
          |  MIN(a.doc_id) AS min_id, MAX(a.doc_id) AS max_id
          |FROM graft.maint.docs_spjb_a a
          |JOIN graft.maint.docs_spjb_b b ON a.doc_id = b.doc_id""".stripMargin)
      val rows = j.collect()
      val exch = exchangeCount(j.queryExecution.executedPlan)
      require(exch <= 1,
        s"bucketed SPJ must not shuffle the fact sides " +
          s"(found $exch exchanges):\n${j.queryExecution.executedPlan}")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Co-bucketed fixture pair for [[spjBucketJoin]]: disjoint
    * column-shapes over overlapping doc_id sets, written one BUCKET
    * per commit so every file is single-valued on the bucket number.
    */
  def ensureDocsSpjBucket(s: SparkSession, dir: String): (Path, Path) =
    synchronized {
      val bexpr = pmod(hash(col("doc_id")), lit(4))
      def build(name: String, rows: DataFrame): Path = {
        val t = root(dir).resolve(name)
        if (SnapStore.currentVersion(t).isEmpty) {
          SnapStore.create(s, t, rows.filter(bexpr === 0),
            "bucket(4,doc_id)")
          (1 to 3).foreach(k =>
            SnapStore.append(s, t, rows.filter(bexpr === k),
              "bucket(4,doc_id)"))
        }
        t
      }
      val b = base(s, dir).select(col("doc_id"), col("tok"))
      val ta = build("docs_spjb_a", b)
      val tb = build("docs_spjb_b",
        b.filter(pmod(col("doc_id"), lit(2L)) === 0))
      mount(s, dir)
      (ta, tb)
    }

  val spjBucketJoinOracle: String =
    s"""WITH a AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS tok
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id % 2 = 0)
       |SELECT COUNT(*) AS n_pairs,
       |  CAST(SUM(a.tok + b.tok) AS BIGINT) AS sum_tok,
       |  MIN(a.doc_id) AS min_id, MAX(a.doc_id) AS max_id
       |FROM a JOIN b ON a.doc_id = b.doc_id""".stripMargin

  /** Multi-field partition spec lifecycle (VERDICT r15 #1 —
    * Iceberg's `PARTITIONED BY (p, bucket(4, id))` compound
    * layouts): two tables created under the compound spec
    * `part2,bucket(4,doc_id)` with per-(part, bucket) commits (every
    * file single-valued on BOTH fields), a merge-on-read position
    * DELETE probed through the compound bounds, entry-time REQUIREs
    * pinning (a) per-field file bounds, (b) the per-field prunes and
    * their conjunction being decisive, and (c) the TWO-transform
    * storage-partitioned join running shuffle-free on
    * `(part2, doc_id)` — then the join result, delete-adjusted,
    * hash-compared against the oracle's logical recompute.
    */
  def ensureDocsMulti(s: SparkSession, dir: String): (Path, Path) =
    synchronized {
      val bexpr = pmod(hash(col("doc_id")), lit(4))
      val multiSpecStr = "part2,bucket(4,doc_id)"
      def build(name: String, rows: DataFrame): Path = {
        val t = root(dir).resolve(name)
        if (SnapStore.currentVersion(t).isEmpty) {
          var first = true
          (0L to 1L).foreach { p =>
            (0 until 4).foreach { k =>
              val slice = rows.filter(col("part2") === p && bexpr === k)
              if (first) {
                SnapStore.create(s, t, slice, multiSpecStr, numFiles = 1)
                first = false
              } else SnapStore.append(s, t, slice, multiSpecStr,
                numFiles = 1)
            }
          }
        }
        t
      }
      val b = base(s, dir).select(col("doc_id"),
        pmod(col("doc_id"), lit(2L)).as("part2"), col("text"), col("tok"))
      val ta = build("docs_multi_a", b)
      val tb = build("docs_multi_b",
        b.filter(pmod(col("doc_id"), lit(5L)) === 0)
          .select(col("doc_id"), col("part2"), col("tok")))
      // Merge-on-read position DELETE over the compound layout: the
      // probe prunes by the part2 bounds (field 0) and the rewrite
      // lands position-delete files the read folds.
      if (SnapStore.currentVersion(ta).contains(8))
        SnapStore.deletePositions(s, ta,
          col("part2") === 1L && pmod(col("doc_id"), lit(3L)) === 0)
      mount(s, dir)
      (ta, tb)
    }

  def multiSpec(s: SparkSession, dir: String): DataFrame = {
    val (ta, _) = ensureDocsMulti(s, dir)
    val m = SnapStore.currentManifest(ta)
    // (a) Per-field bounds rode the manifest.
    require(m.partCol == "part2,bucket(4,doc_id)" &&
      m.files.forall(f => SnapStore.splitBounds(f.partMin).length == 2),
      s"compound per-field bounds expected under '${m.partCol}'")
    // (b) Each field prunes alone; the conjunction refutes an
    // impossible tuple outright.
    val all = m.files.size
    val byPart = SnapStore.probeCandidates(s, m, col("part2") === 0L).size
    val byBucket = SnapStore.probeCandidates(s, m, col("doc_id") === 0L).size
    require(byPart < all && byBucket < all,
      s"both fields must prune ($byPart/$byBucket of $all)")
    // The conjunction opens ONE (part, bucket) cell: each commit
    // wrote one single-tuple file, so an equality pair lands on
    // exactly the one file whose tuple matches both fields.
    val conj = SnapStore.probeCandidates(s, m,
      col("part2") === 0L && col("doc_id") === 2L).size
    require(conj <= 1 && conj < byPart && conj < byBucket,
      s"the conjunction must prune to one (part, bucket) cell " +
        s"(kept $conj; part=$byPart bucket=$byBucket)")
    // (c) The two-transform SPJ join runs with no scan-side shuffle.
    val olds = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k =>
      k -> s.conf.getOption(k))
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = s.sql(
        s"""SELECT a.part2, COUNT(*) AS n_pairs,
           |  SUM(a.tok + b.tok) AS sum_tok,
           |  SUM(fold_hash(a.text, 31, 0, $P)) AS chk
           |FROM graft.maint.docs_multi_a a
           |JOIN graft.maint.docs_multi_b b
           |  ON a.part2 = b.part2 AND a.doc_id = b.doc_id
           |GROUP BY a.part2 ORDER BY a.part2""".stripMargin)
      val rows = j.collect()
      // The per-part aggregate and ORDER BY legitimately shuffle
      // ABOVE the join (part2 alone is a strict subset of the
      // two-field grouping keys); the SPJ claim is the SCAN sides:
      // zero exchanges below the join node.
      val below = graft.plans.PlanShape.exchangesBelowJoin(
        j.queryExecution.executedPlan)
      require(below.contains(0),
        s"the compound-spec SPJ must not shuffle the fact sides " +
          s"(found $below below the join):\n${j.queryExecution.executedPlan}")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally olds.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  val multiSpecOracle: String =
    s"""WITH a AS (
       |  SELECT doc_id, doc_id % 2 AS part2, text,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents
       |  WHERE NOT (doc_id % 2 = 1 AND doc_id % 3 = 0)),
       |b AS (
       |  SELECT doc_id, doc_id % 2 AS part2,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id % 5 = 0)
       |SELECT a.part2, COUNT(*) AS n_pairs,
       |  CAST(SUM(a.tok + b.tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("a.text")}) AS BIGINT) AS chk
       |FROM a JOIN b ON a.part2 = b.part2 AND a.doc_id = b.doc_id
       |GROUP BY a.part2
       |ORDER BY a.part2""".stripMargin

  val spjJoinOracle: String =
    s"""WITH a AS (
       |  SELECT doc_id % $nParts AS part,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id % 3 = 0),
       |b AS (
       |  SELECT doc_id % $nParts AS part,
       |    len(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id % 3 = 1)
       |SELECT a.part, COUNT(*) AS n_pairs,
       |  CAST(SUM(a.tok + b.tok) AS BIGINT) AS sum_tok
       |FROM a JOIN b ON a.part = b.part
       |GROUP BY a.part
       |ORDER BY a.part""".stripMargin

  /** End-to-end NATIVE streaming read ([[graft.sources.SnapStreamSource]]):
    * create from the `doc_id % 5 == 0` slice, append the `== 1` slice
    * (a two-snapshot backlog), start the stream and drain it, then —
    * with the stream RUNNING — rename `text` to `body` and append the
    * `== 2` slice under the new name, and drain again. The entry
    * aggregates the memory sink; the oracle recomputes the three
    * slices' union logically from the fixture, so a hash match proves
    * the manifest-feed offsets served every appended row exactly once
    * AND the mid-stream rename rode through with values intact
    * (post-rename rows arrive in the STARTED column name, like
    * Iceberg's field-id-indirected streaming read). Unlike the other
    * lifecycles this one rebuilds its table fresh per call: the
    * mid-stream mutation must interleave with a live query, which an
    * idempotent cached fixture cannot replay.
    */
  def streamNative(s: SparkSession, dir: String): DataFrame = {
    val t = Files.createTempDirectory("graft-natstream-entry")
    val b = base(s, dir)
    def slice(k: Long) = b.filter(pmod(col("doc_id"), lit(5L)) === k)
    val sink = s"maint_stream_native_${streamSeq.incrementAndGet()}"
    try {
      SnapStore.create(s, t, slice(0), partCol)
      SnapStore.append(s, t, slice(1), partCol)
      val q = graft.streaming.SnapshotStream
        .nativeFeed(s, t, maxFilesPerTrigger = Some(6))
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", t.resolve("_ckpt").toString)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        SnapStore.renameColumn(t, "text", "body")
        SnapStore.append(s, t, slice(2).withColumnRenamed("text", "body"),
          partCol)
        q.processAllAvailable()
      } finally q.stop()
    } finally {
      // The MEMORY sink holds the streamed rows; the table + its
      // checkpoint are scratch. Per-call rebuilds without cleanup
      // accumulate full fixture copies in /tmp across bench reps and
      // rounds (code-review r10 finding).
      import scala.jdk.CollectionConverters._
      if (Files.exists(t))
        Files.walk(t).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
    }
    s.table(sink)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val streamNativeOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 5 IN (0, 1, 2)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `Trigger.AvailableNow` + byte-capped admission over the native
    * manifest feed (Iceberg's `max-bytes-per-micro-batch` and
    * AvailableNow faces): the run drains exactly the snapshots
    * present at start in MULTIPLE byte-limited micro-batches — the
    * per-batch byte budget comes straight from manifest stats, zero
    * IO — then terminates on its own. The entry REQUIRES
    * self-termination and a genuinely split drain; the oracle
    * recomputes the drained contents.
    */
  def streamAvailableNow(s: SparkSession, dir: String): DataFrame = {
    val t = Files.createTempDirectory("graft-availnow-entry")
    val b = base(s, dir)
    def slice(k: Long) = b.filter(pmod(col("doc_id"), lit(5L)) === k)
    val sink = s"maint_stream_availnow_${streamSeq.incrementAndGet()}"
    try {
      SnapStore.create(s, t, slice(0), partCol)
      SnapStore.append(s, t, slice(1), partCol)
      // Budget of ~a third of the feed per batch: the drain must
      // genuinely split (>=3 batches) without paying per-trigger
      // overhead 8 times in the bench.
      val cap = SnapStore.currentManifest(t).files.map(_.bytes).sum / 3
      val q = graft.streaming.SnapshotStream
        .nativeFeed(s, t, maxBytesPerTrigger = Some(cap))
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", t.resolve("_ckpt").toString)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try {
        require(q.awaitTermination(120000L),
          "AvailableNow run must drain and terminate on its own")
        require(Option(q.lastProgress).exists(_.batchId >= 2),
          "the byte cap must split the drain into multiple micro-batches")
      } finally q.stop()
    } finally {
      import scala.jdk.CollectionConverters._
      if (Files.exists(t))
        Files.walk(t).iterator().asScala.toSeq.reverse
          .foreach(p => Files.deleteIfExists(p))
    }
    s.table(sink)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val streamAvailableNowOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 5 IN (0, 1)
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  // ----------------------------------------------------------------
  // Round-12 faces: TIMESTAMP AS OF, full MERGE clauses, add_files,
  // spark.wap.id + cherry-pick, .all_entries.

  /** `docs_ts`: timestamp-travel lifecycle. v1 create → v2 append of
    * every nineteenth doc re-keyed `+500000` as `srcT`. The spin
    * guarantees the two STAMPED commit instants differ (two commits
    * inside one millisecond would make "as of v1's instant" resolve
    * to v2) — instants are stamped, so no blind sleep is needed, only
    * a clock tick.
    */
  def ensureDocsTs(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_ts")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol)
    if (SnapStore.currentVersion(t).contains(1)) {
      val i1 = SnapStore.commitInstantMs(t, 1)
      while (System.currentTimeMillis() <= i1) Thread.sleep(1L)
      SnapStore.append(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(19L)) === 0)
          .withColumn("doc_id", col("doc_id") + 500000L)
          .withColumn("source", lit("srcT")),
        partCol)
    }
    mount(s, dir)
    t
  }

  /** `TIMESTAMP AS OF` time travel (VERDICT r11 #1): the same SQL
    * aggregate read at v1's stamped instant and at the head's — the
    * older read must serve EXACTLY the pre-append snapshot (the
    * oracle recomputes both states logically), proving the catalog
    * resolves instants to the latest snapshot committed at or before
    * them. The pre-first-commit error contract is spec-pinned.
    */
  def timeTravelTs(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsTs(s, dir)
    val i1 = SnapStore.commitInstantMs(t, 1)
    val i2 = SnapStore.commitInstantMs(t, 2)
    require(i2 > i1, "stamped commit instants must be distinct")
    def at(label: String, ms: Long): DataFrame = s.sql(
      s"""SELECT '$label' AS snap, source, COUNT(*) AS n_docs,
         |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
         |  CAST(SUM(fold_hash(text, 31, 0, $P)) AS BIGINT) AS chk
         |FROM graft.maint.docs_ts TIMESTAMP AS OF timestamp_millis(${ms}L)
         |GROUP BY source""".stripMargin)
    at("asof_v1", i1).unionByName(at("head", i2))
      .orderBy(col("snap"), col("source"))
  }

  val timeTravelTsOracle: String =
    s"""WITH b AS (SELECT source, text FROM documents),
       |h AS (
       |  SELECT source, text FROM b
       |  UNION ALL
       |  SELECT 'srcT' AS source, text FROM documents WHERE doc_id % 19 = 0)
       |SELECT 'asof_v1' AS snap, source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM b GROUP BY source
       |UNION ALL
       |SELECT 'head', source, COUNT(*),
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT),
       |  CAST(SUM(${foldSql("text")}) AS BIGINT)
       |FROM h GROUP BY source
       |ORDER BY snap, source""".stripMargin

  /** `docs_mrgd`: the FULL MERGE clause surface (VERDICT r11 #2) in
    * one statement — `WHEN MATCHED AND … THEN DELETE`, `WHEN MATCHED
    * THEN UPDATE`, `WHEN NOT MATCHED THEN INSERT`, and `WHEN NOT
    * MATCHED BY SOURCE AND … THEN UPDATE` — through the group-based
    * row-level-operation path. Source rows: every `%37==2` doc
    * re-sources to `srcQ2` (update), every `%37==5` doc deletes,
    * every `%41==3` doc inserts re-keyed `+700000` as `srcN2`;
    * target-only rows with `doc_id % 43 == 7` re-source to `srcB`.
    */
  def ensureDocsMrgd(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_mrgd")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    if (SnapStore.currentVersion(t).contains(1)) {
      mount(s, dir)
      val b = base(s, dir)
      b.filter(pmod(col("doc_id"), lit(37L)) === 2)
        .withColumn("source", lit("srcQ2")).withColumn("kind", lit("upd"))
        .unionByName(b.filter(pmod(col("doc_id"), lit(37L)) === 5)
          .withColumn("kind", lit("del")))
        .unionByName(b.filter(pmod(col("doc_id"), lit(41L)) === 3)
          .withColumn("doc_id", col("doc_id") + 700000L)
          .withColumn("source", lit("srcN2")).withColumn("kind", lit("ins")))
        .createOrReplaceTempView("graft_mrgd_src")
      s.sql(
        """MERGE INTO graft.maint.docs_mrgd t
          |USING graft_mrgd_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.kind = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.source = s.source
          |WHEN NOT MATCHED THEN INSERT
          |  (doc_id, part, source, text, tok)
          |  VALUES (s.doc_id, s.part, s.source, s.text, s.tok)
          |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 43 = 7
          |  THEN UPDATE SET t.source = 'srcB'""".stripMargin)
    }
    mount(s, dir)
    t
  }

  /** Full-clause MERGE contents per source: the oracle recomputes
    * delete/update/insert/not-matched-by-source logically, so a hash
    * match proves every clause routed through the atomic replace
    * snapshot exactly once (clause ORDER included — a doc matching
    * both the delete and update guards must delete).
    */
  def sqlMergeDelete(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMrgd(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val sqlMergeDeleteOracle: String =
    s"""WITH m AS (
       |  SELECT CASE WHEN doc_id % 37 = 2 THEN 'srcQ2'
       |              WHEN doc_id % 43 = 7 THEN 'srcB'
       |              ELSE source END AS source, text
       |  FROM documents
       |  WHERE doc_id % 37 != 5
       |  UNION ALL
       |  SELECT 'srcN2' AS source, text FROM documents WHERE doc_id % 41 = 3)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM m
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_mordml`: merge-on-read SQL DML (VERDICT r12 #2 —
    * Iceberg's `write.delete.mode` / `write.update.mode` /
    * `write.merge.mode = merge-on-read` table properties). v1 create
    * + the three mode properties → v2 SQL `DELETE` of every
    * seventeenth-mod-4 doc commits a POSITION-DELETE file (zero data
    * rewritten — spec-pinned mtimes in MorDmlSpec) → v3 SQL `MERGE`
    * re-sources every surviving `%23==1` doc (split
    * delete+reinsert: pairs suppress the old rows, replacement rows
    * land as new files) and inserts `%29==2` re-keyed `+900000` as
    * `morI`. The base data files never rewrite; reads net pairs by
    * `(file, ordinal)`.
    */
  def ensureDocsMordml(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_mordml")
    if (SnapStore.currentVersion(t).isEmpty) {
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
      SnapStore.setProperties(t, Map(
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read"))
    }
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1)) {
      s.sql("DELETE FROM graft.maint.docs_mordml WHERE doc_id % 17 = 4")
      require(SnapStore.currentManifest(t).operation == "delete-mor",
        "the DELETE must route merge-on-read")
    }
    if (SnapStore.currentVersion(t).contains(2)) {
      val b = base(s, dir)
      b.filter(pmod(col("doc_id"), lit(23L)) === 1 &&
          pmod(col("doc_id"), lit(17L)) =!= 4)
        .withColumn("source", lit("morU"))
        .unionByName(b.filter(pmod(col("doc_id"), lit(29L)) === 2)
          .withColumn("doc_id", col("doc_id") + 900000L)
          .withColumn("source", lit("morI")))
        .createOrReplaceTempView("graft_mordml_src")
      s.sql(
        """MERGE INTO graft.maint.docs_mordml t
          |USING graft_mordml_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET t.source = s.source
          |WHEN NOT MATCHED THEN INSERT
          |  (doc_id, part, source, text, tok)
          |  VALUES (s.doc_id, s.part, s.source, s.text, s.tok)""".stripMargin)
      require(SnapStore.currentManifest(t).operation == "merge-mor",
        "the MERGE must route merge-on-read")
    }
    t
  }

  /** MOR SQL DELETE face: per-partition counts + checksum over the
    * post-DML table — the oracle recomputes the delete + merge
    * logically, so a hash match proves the pair suppression nets
    * exactly the deleted ordinals on the read path (no resurrection,
    * no over-delete) while the data files stayed in place.
    */
  def sqlDeleteMor(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMordml(s, dir)
    require(SnapStore.currentManifest(t).deleteFiles.exists(_.kind == "pos"),
      "the MOR lifecycle must leave pending position-delete files")
    s.sql(s"""SELECT part, COUNT(*) AS n_docs,
      CAST(SUM(tok) AS BIGINT) AS sum_tok,
      CAST(SUM(fold_hash(text, 31, 0, $P)) AS BIGINT) AS chk
      FROM graft.maint.docs_mordml GROUP BY part ORDER BY part""")
  }

  val sqlDeleteMorOracle: String =
    s"""WITH fin AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 17 != 4
       |  UNION ALL
       |  SELECT doc_id + 900000, text FROM documents WHERE doc_id % 29 = 2)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM fin
       |GROUP BY doc_id % $nParts
       |ORDER BY part""".stripMargin

  /** Changelog UPDATE PAIRING over the delta MERGE commit (Iceberg's
    * `compute_updates`): the v2→v3 changelog of the MOR-DML
    * lifecycle, identifier `doc_id` — each matched doc surfaces as
    * an `UPDATE_BEFORE` (its pre-image source) paired with an
    * `UPDATE_AFTER` (`morU`), fresh keys stay `INSERT` (`morI`). The
    * oracle recomputes all three classes with their source values,
    * so a hash match proves the pairing relabeled EXACTLY the
    * same-identifier same-commit delete+insert pairs.
    */
  def changelogUpdates(s: SparkSession, dir: String): DataFrame = {
    ensureDocsMordml(s, dir)
    s.sql("""CALL graft.system.create_changelog_view_with_updates(
      'maint.docs_mordml', 'graft_mordml_changes', 2, 3, 'doc_id')""")
    s.sql("""SELECT _change_type AS change_type, source,
      COUNT(*) AS n_docs
      FROM graft_mordml_changes
      GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  val changelogUpdatesOracle: String =
    s"""WITH upd AS (
       |  SELECT source FROM documents
       |  WHERE doc_id % 23 = 1 AND doc_id % 17 != 4)
       |SELECT 'INSERT' AS change_type, 'morI' AS source,
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 29 = 2) AS n_docs
       |UNION ALL
       |SELECT 'UPDATE_AFTER', 'morU', (SELECT COUNT(*) FROM upd)
       |UNION ALL
       |SELECT 'UPDATE_BEFORE', source, COUNT(*) FROM upd GROUP BY source
       |ORDER BY change_type, source""".stripMargin

  /** MOR SQL MERGE face: per-source contents after the delta MERGE —
    * updates re-sourced via split delete+reinsert, inserts appended,
    * every base file untouched (MorDmlSpec pins the mtimes).
    */
  def sqlMergeMor(s: SparkSession, dir: String): DataFrame = {
    ensureDocsMordml(s, dir)
    s.sql(s"""SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(fold_hash(text, 31, 0, $P)) AS BIGINT) AS chk
      FROM graft.maint.docs_mordml GROUP BY source ORDER BY source""")
  }

  val sqlMergeMorOracle: String =
    s"""WITH fin AS (
       |  SELECT CASE WHEN doc_id % 23 = 1 THEN 'morU' ELSE source END
       |    AS source, text
       |  FROM documents
       |  WHERE doc_id % 17 != 4
       |  UNION ALL
       |  SELECT 'morI' AS source, text FROM documents WHERE doc_id % 29 = 2)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM fin
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_stats`: the `compute_table_stats` / ANALYZE face (VERDICT
    * r12 #3). v1 create → the CALL computes per-column NDV/null
    * stats in one distributed agg and persists them beside the
    * manifests (the CBO then consumes them — TableStatsSpec pins the
    * SMJ→broadcast flip). The entry serves the LOW-cardinality
    * columns, where the HLL sketch is exact and DuckDB recomputes
    * the same counts.
    */
  def ensureDocsStats(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_stats")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    mount(s, dir)
    t
  }

  def tableStats(s: SparkSession, dir: String): DataFrame = {
    ensureDocsStats(s, dir)
    val res = s
      .sql("CALL graft.system.compute_table_stats('maint.docs_stats')")
      .filter(col("column").isin("part", "source", "doc_id"))
    // The HLL sketch carries a published error bound, not exactness
    // (±5% rsd) — the oracle face therefore checks each NDV against
    // the EXACT distinct count within 10%, plus the exact null
    // counts, as hash-stable booleans.
    val exact = s.sql(
      """SELECT CAST(COUNT(DISTINCT part) AS BIGINT) AS e_part,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS e_source,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS e_doc_id
        |FROM graft.maint.docs_stats""".stripMargin)
    res.crossJoin(broadcast(exact))
      .withColumn("e", when(col("column") === "part", col("e_part"))
        .when(col("column") === "source", col("e_source"))
        .otherwise(col("e_doc_id")))
      .select(col("column").as("col_name"), col("null_count"),
        (abs(col("ndv") - col("e")) <=
          greatest(lit(1L), col("e") / 10)).as("ndv_sane"))
      .orderBy(col("col_name"))
  }

  val tableStatsOracle: String =
    s"""SELECT col_name, CAST(0 AS BIGINT) AS null_count,
       |  TRUE AS ndv_sane
       |FROM (VALUES ('doc_id'), ('part'), ('source')) AS t(col_name)
       |ORDER BY col_name""".stripMargin

  /** `docs_lineage`: Iceberg v3 ROW LINEAGE (VERDICT r12 #5). v1
    * create assigns file-level first-row-ids at commit (`_row_id` =
    * `first_row_id + _pos`, the v3 inheritance scheme) → v2
    * merge-on-read SQL UPDATE re-sources every `%23==1` doc — base
    * files untouched, so unchanged rows keep their ids EXACTLY while
    * the rewritten rows land as new rows with fresh ids and
    * `_last_updated_sequence_number = 2` → v3 compaction folds the
    * whole layout, MATERIALIZING each row's id/sequence into the
    * rewritten files (bin-packing reorders rows, so derivation alone
    * could not survive). The entry groups by the last-updated
    * sequence: the per-group counts and DISTINCT-id counts are
    * deterministic, proving ids carried the compact and sequences
    * bumped on exactly the updated rows (RowLineageSpec pins the
    * per-doc stability).
    */
  def ensureDocsLineage(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_lineage")
    if (SnapStore.currentVersion(t).isEmpty) {
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
      SnapStore.setProperties(t,
        Map("write.update.mode" -> "merge-on-read"))
    }
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1)) {
      s.sql("UPDATE graft.maint.docs_lineage SET source = 'linU' " +
        "WHERE doc_id % 23 = 1")
      require(SnapStore.currentManifest(t).operation == "update-mor")
    }
    if (SnapStore.currentVersion(t).contains(2)) {
      SnapStore.compact(s, t, partCol, Long.MaxValue)
      require(SnapStore.currentManifest(t).files.forall(_.lineage),
        "the compact must materialize row lineage")
    }
    // COW UPDATE carry (VERDICT r13 #1): flip the update mode to
    // copy-on-write and run a group-based UPDATE — the rewrite
    // requests `_row_id`/`_last_updated_sequence_number` as required
    // metadata attributes and materializes them into the replacement
    // files: carried rows keep BOTH, updated rows keep their id with
    // the sequence nullified (re-stamped to the new commit by the
    // read's v3 null rule).
    if (SnapStore.currentVersion(t).contains(3)) {
      SnapStore.setProperties(t,
        Map("write.update.mode" -> "copy-on-write"))
      s.sql("UPDATE graft.maint.docs_lineage SET source = 'linC' " +
        "WHERE doc_id % 31 = 2")
      require(SnapStore.currentManifest(t).operation == "update",
        "the COW update must route the group-based path")
    }
    t
  }

  def rowLineage(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsLineage(s, dir)
    val v = SnapStore.currentVersion(t).get
    def snap(ver: Int) = s.read.format("graft.sources.SnapReadSource")
      .option("dir", t.toString).option("version", ver).load()
    val cur = snap(v)
    // Row-id STABILITY across the COW update, hash-verified as a
    // boolean (the tableStats precedent): every doc keeps exactly
    // the id it had in the pre-update snapshot — carried AND updated
    // rows alike (updated rows keep identity; only their sequence
    // bumps).
    val pre = snap(v - 1).select(col("doc_id"),
      col("_row_id").as("pre_id"))
    val moved = cur.select(col("doc_id"), col("_row_id").as("cur_id"))
      .join(pre, "doc_id")
      .filter(col("cur_id") =!= col("pre_id") ||
        col("cur_id").isNull =!= col("pre_id").isNull)
      .count()
    cur
      .groupBy(col("_last_updated_sequence_number").as("last_seq"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("_row_id")).as("n_ids"))
      .withColumn("ids_stable", lit(moved == 0L))
      .orderBy(col("last_seq"))
  }

  val rowLineageOracle: String =
    s"""SELECT CAST(1 AS BIGINT) AS last_seq,
       |  (SELECT COUNT(*) FROM documents
       |     WHERE doc_id % 23 != 1 AND doc_id % 31 != 2) AS n_docs,
       |  (SELECT COUNT(*) FROM documents
       |     WHERE doc_id % 23 != 1 AND doc_id % 31 != 2) AS n_ids,
       |  TRUE AS ids_stable
       |UNION ALL
       |SELECT CAST(2 AS BIGINT),
       |  (SELECT COUNT(*) FROM documents
       |     WHERE doc_id % 23 = 1 AND doc_id % 31 != 2),
       |  (SELECT COUNT(*) FROM documents
       |     WHERE doc_id % 23 = 1 AND doc_id % 31 != 2),
       |  TRUE
       |UNION ALL
       |SELECT CAST(4 AS BIGINT),
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 31 = 2),
       |  (SELECT COUNT(*) FROM documents WHERE doc_id % 31 = 2),
       |  TRUE
       |ORDER BY last_seq""".stripMargin

  /** `docs_reg`: the `register_table` lifecycle (VERDICT r12 #6).
    * An EXTERNAL snapshot table (built under the warehouse's hidden
    * `.ext_reg/` dir — outside the catalog's table namespace) adopts
    * under `maint.docs_reg` with zero copies via `CALL
    * register_table` (the name is a symlink to the root — manifests,
    * history and all); a post-registration SQL INSERT through the
    * registered name then commits onto the SOURCE root, proving the
    * adoption carried the full write surface, not just reads.
    */
  def ensureDocsReg(s: SparkSession, dir: String): Path = synchronized {
    val src = root(dir).resolve(".ext_reg").resolve("src")
    if (SnapStore.currentVersion(src).isEmpty)
      SnapStore.create(s, src,
        base(s, dir).filter(pmod(col("doc_id"), lit(29L)) =!= 7), partCol)
    mount(s, dir)
    val alias = root(dir).resolve("docs_reg")
    if (!java.nio.file.Files.exists(alias,
      java.nio.file.LinkOption.NOFOLLOW_LINKS))
      s.sql(s"CALL graft.system.register_table('maint.docs_reg', '$src')")
    if (SnapStore.currentVersion(src).contains(1)) {
      base(s, dir).filter(pmod(col("doc_id"), lit(29L)) === 7)
        .withColumn("source", lit("regI"))
        .createOrReplaceTempView("graft_reg_batch")
      s.sql("INSERT INTO graft.maint.docs_reg " +
        "SELECT doc_id, part, source, text, tok FROM graft_reg_batch")
      require(SnapStore.currentVersion(src).contains(2),
        "the INSERT must commit on the registered source root")
    }
    alias
  }

  def registerTable(s: SparkSession, dir: String): DataFrame = {
    ensureDocsReg(s, dir)
    s.sql(s"""SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(fold_hash(text, 31, 0, $P)) AS BIGINT) AS chk
      FROM graft.maint.docs_reg GROUP BY source ORDER BY source""")
  }

  val registerTableOracle: String =
    s"""WITH fin AS (
       |  SELECT source, text FROM documents WHERE doc_id % 29 != 7
       |  UNION ALL
       |  SELECT 'regI' AS source, text FROM documents WHERE doc_id % 29 = 7)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM fin
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_view`: the VIEW face (VERDICT r12 stretch). A persisted
    * view over the `docs_stats` table (created once via the
    * `create_view` CALL, definition stored beside the warehouse)
    * serves a filtered projection; the entry aggregates THROUGH the
    * view, proving the injected resolution rule substitutes the
    * stored SQL and the filter reaches the base scan
    * (ViewCatalogSpec pins the pushdown and the view-on-view nest).
    */
  def ensureDocsView(s: SparkSession, dir: String): Unit = synchronized {
    ensureDocsStats(s, dir)
    val vf = root(dir).resolve("_views").resolve("docs_view.view")
    if (!java.nio.file.Files.isRegularFile(vf))
      s.sql("""CALL graft.system.create_view('maint.docs_view',
        'SELECT doc_id, part, source, text FROM graft.maint.docs_stats
         WHERE doc_id % 3 != 2')""")
  }

  def viewRead(s: SparkSession, dir: String): DataFrame = {
    ensureDocsView(s, dir)
    s.sql(s"""SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(fold_hash(text, 31, 0, $P)) AS BIGINT) AS chk
      FROM graft.maint.docs_view WHERE part < 6
      GROUP BY source ORDER BY source""")
  }

  val viewReadOracle: String =
    s"""SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 3 != 2 AND doc_id % $nParts < 6
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `docs_add`: the `add_files` onboarding lifecycle (VERDICT r11
    * #3). v1 create holds parts 0–3 only; parts 4–7 are written as a
    * PLAIN parquet directory outside the table → v2 `CALL
    * graft.system.add_files` adopts them metadata-only (one stats
    * job, zero bytes moved — mtimes spec-pinned) → v3 a MOR equality
    * delete of every thirteenth doc, applying to OWNED and ADOPTED
    * files alike (the adopted entries' sequence precedes the
    * delete's).
    */
  def ensureDocsAdd(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_add")
    val ext = root(dir).resolve("import_src")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b.filter(col(partCol) < 4), partCol,
        keyCol = "doc_id")
    if (!Files.exists(ext.resolve("_SUCCESS")))
      b.filter(col(partCol) >= 4)
        .write.mode("overwrite").parquet(ext.toString)
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1))
      s.sql(s"CALL graft.system.add_files('maint.docs_add', '$ext')")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.deleteEquality(s, t,
        b.filter(pmod(col("doc_id"), lit(13L)) === 0).select("doc_id"),
        "doc_id")
    t
  }

  /** Post-adoption contents per partition: the oracle recomputes the
    * full fixture minus the MOR-deleted keys, so a hash match proves
    * adopted files serve reads exactly like owned ones — including
    * the pending equality delete applying across both.
    */
  def addFilesRead(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsAdd(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val addFilesReadOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 13 != 0
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_wapid`: the ID-KEYED write-audit-publish lifecycle
    * (VERDICT r11 #4; Iceberg's older `spark.wap.id` face). With the
    * conf set, an UNMODIFIED `INSERT INTO` stages as an unreferenced
    * snapshot keyed by the id — main provably frozen, plain reads
    * provably clean of staged rows — and `CALL graft.system
    * .publish_changes` cherry-picks exactly the staged rows onto
    * main. The staging chain drops on publish.
    */
  def ensureDocsWapId(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_wapid")
    val b = base(s, dir)
    val bname = SnapStore.wapStageBranch("batch7")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    mount(s, dir)
    // Crash-reentrant staging (code review r12): the INSERT runs only
    // while the staging chain is ABSENT, so a run that died between
    // stage and publish resumes at the publish instead of staging a
    // second copy and wedging on the branch-version require.
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, bname).isEmpty) {
      val confKey = "spark.graft.wap.id"
      val old = s.conf.getOption(confKey)
      s.conf.set(confKey, "batch7")
      try {
        b.filter(pmod(col("doc_id"), lit(23L)) === 0)
          .withColumn("doc_id", col("doc_id") + 800000L)
          .withColumn("source", lit("srcW"))
          .createOrReplaceTempView("wapid_batch")
        s.sql("INSERT INTO graft.maint.docs_wapid SELECT * FROM wapid_batch")
        require(SnapStore.currentVersion(t).contains(1),
          "id-staged INSERT moved main — staging is broken")
        require(SnapStore.branchHead(t, bname).contains(2),
          "the staged snapshot must land on the id's hidden chain")
      } finally old match {
        case Some(v) => s.conf.set(confKey, v)
        case None => s.conf.unset(confKey)
      }
      // Unlike the branch conf, wap.id does NOT route reads: the
      // staged snapshot stays invisible until published (Iceberg's
      // id-keyed contract).
      val plain = s.sql("SELECT COUNT(*) AS n FROM graft.maint.docs_wapid " +
        "WHERE doc_id >= 800000").collect()(0).getLong(0)
      require(plain == 0L,
        s"id-staged rows leaked into a plain read ($plain rows)")
    }
    if (SnapStore.currentVersion(t).contains(1) &&
      SnapStore.branchHead(t, bname).contains(2)) {
      s.sql(
        "CALL graft.system.publish_changes('maint.docs_wapid', 'batch7')")
      require(SnapStore.currentVersion(t).contains(2),
        "publish_changes must commit the staged rows onto main")
      require(SnapStore.branchHead(t, bname).isEmpty,
        "the staging chain must drop on publish")
    }
    // A crash between the publish commit and the branch drop leaves a
    // stale chain behind main v2: the idempotent republish clears it.
    if (SnapStore.currentVersion(t).contains(2) &&
      SnapStore.branchHead(t, bname).nonEmpty)
      s.sql(
        "CALL graft.system.publish_changes('maint.docs_wapid', 'batch7')")
    t
  }

  /** Id-keyed WAP contents per partition after publish: the oracle
    * recomputes base + the staged batch; the hash match plus the
    * lifecycle's requires prove the id staged without moving main
    * and the cherry-pick landed exactly the staged rows.
    */
  def wapIdPublish(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsWapId(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val wapIdPublishOracle: String =
    s"""WITH live AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 800000, text FROM documents WHERE doc_id % 23 = 0)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_ctas`: the CREATE TABLE / CTAS lifecycle (r12). CTAS
    * creates the table EMPTY (metadata-only v1, partitioned by
    * `part`, key column declared via TBLPROPERTIES) and lands the
    * SELECT as its first write (v2) — parts 0–5 only; an `INSERT
    * INTO` completes parts 6–7 re-sourced `srcG` (v3); a SQL DELETE
    * drops the `part = 1 AND tok >= 60` band (v4). Every face runs
    * through plain SQL against the created table.
    */
  def ensureDocsCtas(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_ctas")
    mount(s, dir)
    if (SnapStore.currentVersion(t).isEmpty) {
      base(s, dir).createOrReplaceTempView("graft_ctas_base")
      s.sql("""CREATE TABLE graft.maint.docs_ctas PARTITIONED BY (part)
        TBLPROPERTIES ('key.column' = 'doc_id') AS
        SELECT doc_id, part, source, text, tok FROM graft_ctas_base
        WHERE part < 6""")
    }
    // Crash repair (code review r12): CTAS is two commits (create v1,
    // SELECT lands as v2) — a run that died between them leaves an
    // empty v1 no other branch advances. Land the SELECT as a plain
    // INSERT; contents are identical to the CTAS's write.
    if (SnapStore.currentVersion(t).contains(1)) {
      base(s, dir).createOrReplaceTempView("graft_ctas_base")
      s.sql("""INSERT INTO graft.maint.docs_ctas
        SELECT doc_id, part, source, text, tok FROM graft_ctas_base
        WHERE part < 6""")
    }
    if (SnapStore.currentVersion(t).contains(2)) {
      base(s, dir).createOrReplaceTempView("graft_ctas_base")
      s.sql("""INSERT INTO graft.maint.docs_ctas
        SELECT doc_id, part, 'srcG' AS source, text, tok
        FROM graft_ctas_base WHERE part >= 6""")
    }
    if (SnapStore.currentVersion(t).contains(3))
      s.sql("DELETE FROM graft.maint.docs_ctas " +
        "WHERE part = 1 AND tok >= 60")
    t
  }

  /** CTAS-created table contents per source: the oracle recomputes
    * create-as-select + insert + delete logically, proving a table
    * BORN through the catalog's DDL faces serves the same storage
    * semantics as one created through the API.
    */
  def createCtas(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsCtas(s, dir)
    SnapStore.read(s, t)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col("source"))
  }

  val createCtasOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id, doc_id % $nParts AS part, source, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |live AS (
       |  SELECT part, source, text, tok FROM f WHERE part < 6
       |  UNION ALL
       |  SELECT part, 'srcG' AS source, text, tok FROM f WHERE part >= 6)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(tok) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |WHERE NOT (part = 1 AND tok >= 60)
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** `.all_entries` across a create → append → rollback chain
    * (VERDICT r11 #5): per-snapshot row-count totals by (status,
    * content) are logically derivable — v1 adds everything, v2
    * carries v1 and adds the append, v3 (rollback) carries v1's
    * files and reports the appended ones GONE (status 2).
    */
  def allEntriesMeta(s: SparkSession, dir: String): DataFrame = {
    ensureDocsProc(s, dir)
    s.sql("""SELECT snapshot, status, content,
               SUM(record_count) AS rows_sum
             FROM graft.maint.docs_proc.all_entries
             GROUP BY snapshot, status, content
             ORDER BY snapshot, status, content""")
  }

  val allEntriesMetaOracle: String =
    """WITH c AS (
      |  SELECT COUNT(*) AS n,
      |    COUNT(*) FILTER (WHERE doc_id % 31 = 0) AS n31
      |  FROM documents)
      |SELECT CAST(1 AS INTEGER) AS snapshot, CAST(1 AS INTEGER) AS status,
      |  CAST(0 AS INTEGER) AS content, CAST(n AS BIGINT) AS rows_sum FROM c
      |UNION ALL SELECT 2, 0, 0, CAST(n AS BIGINT) FROM c
      |UNION ALL SELECT 2, 1, 0, CAST(n31 AS BIGINT) FROM c
      |UNION ALL SELECT 3, 0, 0, CAST(n AS BIGINT) FROM c
      |UNION ALL SELECT 3, 2, 0, CAST(n31 AS BIGINT) FROM c
      |ORDER BY snapshot, status, content""".stripMargin

  /** `docs_snapsrc` → `docs_snapclone`: the `snapshot` zero-copy
    * clone lifecycle (Iceberg's `snapshot` procedure). The SOURCE is
    * v1 create + v2 MOR equality delete (every seventeenth doc), so
    * the clone carries a pending DELETE file, not just data. `CALL
    * graft.system.snapshot` creates the clone with zero data IO; an
    * append then lands on the CLONE ONLY (+900000 ids, every
    * twenty-ninth doc) — the source stays frozen at v2 (required
    * here; file-level physical claims live in IcebergFacesSpec).
    */
  def ensureDocsClone(s: SparkSession, dir: String): (Path, Path) =
    synchronized {
      val src = root(dir).resolve("docs_snapsrc")
      val clone = root(dir).resolve("docs_snapclone")
      val b = base(s, dir)
      if (SnapStore.currentVersion(src).isEmpty)
        SnapStore.create(s, src, b, partCol, keyCol = "doc_id")
      if (SnapStore.currentVersion(src).contains(1))
        SnapStore.deleteEquality(s, src,
          b.filter(pmod(col("doc_id"), lit(17L)) === 0).select("doc_id"),
          "doc_id")
      mount(s, dir)
      if (SnapStore.currentVersion(clone).isEmpty)
        s.sql("CALL graft.system.snapshot('maint.docs_snapsrc', " +
          "'maint.docs_snapclone')")
      // The clone's first manifest KEEPS the source's version (2) so
      // carried sequence numbers stay coherent; the clone-side append
      // commits v3 (seq 3 — outranks the carried eq delete at seq 2).
      if (SnapStore.currentVersion(clone).contains(2))
        SnapStore.append(s, clone,
          b.filter(pmod(col("doc_id"), lit(29L)) === 0)
            .withColumn("doc_id", col("doc_id") + 900000L)
            .withColumn("source", lit("srcS")),
          partCol)
      require(SnapStore.currentVersion(src).contains(2),
        "clone-side writes must never move the source table")
      (src, clone)
    }

  /** Clone contents per partition after the clone-only append: the
    * oracle recomputes source-minus-deletes plus the appended batch.
    * A hash match proves the zero-copy clone serves the source's
    * files (with the carried MOR delete applying) AND took the
    * divergent write — while the lifecycle's require pins the source
    * frozen.
    */
  def snapshotClone(s: SparkSession, dir: String): DataFrame = {
    val (_, clone) = ensureDocsClone(s, dir)
    SnapStore.read(s, clone)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val snapshotCloneOracle: String =
    s"""WITH live AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 17 != 0
       |  UNION ALL
       |  SELECT doc_id + 900000, text FROM documents WHERE doc_id % 29 = 0)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_migrate`: the `migrate` in-place conversion lifecycle
    * (Iceberg's `migrate` procedure). The fixture is written as a
    * PLAIN parquet directory (no snapshot metadata at all); `CALL
    * graft.system.migrate` adopts its files where they sit (v1,
    * bare-name entries, one stats job — mtimes spec-pinned); a MOR
    * equality delete (every nineteenth doc) then proves the migrated
    * table serves full DML like a born-snapshot one.
    */
  def ensureDocsMigrate(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_migrate")
    if (!SnapStore.isSnapTable(t)) {
      if (!Files.exists(t.resolve("_SUCCESS")))
        base(s, dir).write.mode("overwrite").parquet(t.toString)
      mount(s, dir)
      s.sql("CALL graft.system.migrate('maint.docs_migrate', " +
        s"'$partCol', 'doc_id')")
    }
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1))
      SnapStore.deleteEquality(s, t,
        base(s, dir).filter(pmod(col("doc_id"), lit(19L)) === 0)
          .select("doc_id"),
        "doc_id")
    t
  }

  /** Migrated-table contents per partition: the oracle recomputes
    * the fixture minus the MOR-deleted keys — a hash match proves
    * the in-place adoption serves every original row and subsequent
    * merge-on-read DML applies to the adopted files.
    */
  def migrateRead(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsMigrate(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val migrateReadOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 19 != 0
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_default`: the ADD COLUMN DEFAULT lifecycle (Iceberg v3
    * initial defaults). v1 create WITHOUT the column → v2 `ALTER
    * TABLE … ADD COLUMN bonus BIGINT DEFAULT 5` (pure metadata; old
    * files physically lack the column) → v3 append with EXPLICIT
    * bonus values (`tok`). Reads substitute the default for
    * pre-evolution files and serve written values for new ones.
    */
  def ensureDocsDefault(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_default")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    mount(s, dir)
    if (SnapStore.currentVersion(t).contains(1))
      s.sql("ALTER TABLE graft.maint.docs_default " +
        "ADD COLUMN bonus BIGINT DEFAULT 5")
    if (SnapStore.currentVersion(t).contains(2))
      SnapStore.append(s, t,
        b.filter(pmod(col("doc_id"), lit(27L)) === 0)
          .withColumn("doc_id", col("doc_id") + 600000L)
          .withColumn("source", lit("srcV"))
          .withColumn("bonus", col("tok")),
        partCol)
    t
  }

  /** Post-default contents per partition with the defaulted column
    * aggregated: the oracle recomputes old rows at the constant and
    * appended rows at their explicit values — a hash match proves
    * the initial default substitutes exactly on pre-evolution files
    * and never leaks onto post-evolution ones.
    */
  def addDefault(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsDefault(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("bonus")).as("sum_bonus"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val addDefaultOracle: String =
    s"""WITH live AS (
       |  SELECT doc_id, text, CAST(5 AS BIGINT) AS bonus FROM documents
       |  UNION ALL
       |  SELECT doc_id + 600000, text,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS bonus
       |  FROM documents WHERE doc_id % 27 = 0)
       |SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(bonus) AS BIGINT) AS sum_bonus,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM live
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_dv`: the DELETION-VECTOR lifecycle (Iceberg v3 position
    * deletes). v1 create → v2 position delete under
    * `spark.graft.delete.vectors=true` (one compact `.dv` blob per
    * affected data file) → v3 a SECOND DV delete whose vectors MERGE
    * and supersede v2's per file (the v3 one-DV-per-file invariant).
    * Reads route by `refs` and apply the ordinals from the blobs.
    */
  def ensureDocsDv(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_dv")
    val b = base(s, dir)
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, b, partCol, keyCol = "doc_id")
    val confKey = "spark.graft.delete.vectors"
    val old = s.conf.getOption(confKey)
    s.conf.set(confKey, "true")
    try {
      if (SnapStore.currentVersion(t).contains(1))
        SnapStore.deletePositions(s, t,
          pmod(col("doc_id"), lit(21L)) === 0)
      if (SnapStore.currentVersion(t).contains(2)) {
        SnapStore.deletePositions(s, t,
          pmod(col("doc_id"), lit(33L)) === 0)
        val dvs = SnapStore.currentManifest(t).deleteFiles
          .filter(d => d.path.endsWith(".dv"))
        require(dvs.nonEmpty && dvs.map(_.refs.head).distinct.size
          == dvs.size, "one DV per data file (v3 supersede) required")
      }
    } finally old match {
      case Some(v) => s.conf.set(confKey, v)
      case None => s.conf.unset(confKey)
    }
    mount(s, dir)
    t
  }

  /** Post-DV contents per partition: the oracle recomputes the
    * fixture minus both deleted key sets — a hash match proves the
    * delta-varint blobs suppress exactly the named ordinals (and
    * nothing else) through the merged, superseded vectors.
    */
  def deleteVectors(s: SparkSession, dir: String): DataFrame = {
    val t = ensureDocsDv(s, dir)
    SnapStore.read(s, t)
      .groupBy(col(partCol))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tok"),
        checksum(col("text")).as("chk"))
      .orderBy(col(partCol))
  }

  val deleteVectorsOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tok,
       |  CAST(SUM(${foldSql("text")}) AS BIGINT) AS chk
       |FROM documents
       |WHERE doc_id % 21 != 0 AND doc_id % 33 != 0
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** `docs_meta`: metadata columns. v1 create only; the SPJ-eligible
    * layout routes the catalog read through the native batch, whose
    * per-file readers serve Iceberg's `_file`/`_pos`.
    */
  def ensureDocsMeta(s: SparkSession, dir: String): Path = synchronized {
    val t = root(dir).resolve("docs_meta")
    if (SnapStore.currentVersion(t).isEmpty)
      SnapStore.create(s, t, base(s, dir), partCol, keyCol = "doc_id")
    mount(s, dir)
    t
  }

  /** Per-partition row counts beside DISTINCT `(_file, _pos)` pair
    * counts: the pair is unique per physical row by construction, so
    * the oracle's `n_pairs = n_docs` equality proves the metadata
    * columns identify every row exactly once — no duplicated or
    * dropped ordinals across files, splits, or tasks. The native
    * route is pinned STRUCTURALLY (VERDICT r12 hygiene): the read
    * goes through [[graft.sources.SnapReadSource]] — the
    * always-native TableProvider face — instead of a session conf
    * scoped around lazy plan construction, so no future move of the
    * route decision to scan-build time can silently un-force it.
    */
  def metadataCols(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = ensureDocsMeta(s, dir)
    val v = SnapStore.currentVersion(t).getOrElse(
      sys.error(s"docs_meta table missing under $t"))
    s.read.format("graft.sources.SnapReadSource")
      .option("dir", t.toString).option("version", v).load()
      .select(col(partCol), col("_file"), col("_pos"))
      .groupBy(col(partCol).as("part"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(concat(col("_file"), lit("#"), col("_pos")))
          .as("n_pairs"))
      .orderBy(col("part"))
  }

  val metadataColsOracle: String =
    s"""SELECT doc_id % $nParts AS part, COUNT(*) AS n_docs,
       |  COUNT(*) AS n_pairs
       |FROM documents
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  def all: Seq[Q] = Seq(
    Q("maint_merge_upsert", mergeUpsert, Some(mergeUpsertOracle),
      "copy-on-write MERGE: touched-partition files rewritten, rest carried"),
    Q("maint_compaction", compaction, Some(compactionOracle),
      "bin-pack small-file compaction: layout-only rewrite, contents identical"),
    Q("maint_snapshot_expiry", snapshotExpiry, Some(snapshotExpiryOracle),
      "snapshot expiry: live VERSION AS OF read after old snapshots dropped"),
    Q("maint_schema_evolution", schemaEvolution, Some(schemaEvolutionOracle),
      "ADD COLUMN evolution: old files read nulls, appended files carry values"),
    Q("maint_delete", deleteRows, Some(deleteRowsOracle),
      "copy-on-write row-level DELETE: touched-partition files rewritten minus matches"),
    Q("maint_incremental_read", incrementalRead, Some(incrementalReadOracle),
      "incremental append scan between snapshots: added files only, no base IO"),
    Q("maint_snapshot_log", snapshotLog, Some(snapshotLogOracle),
      "snapshots metadata table: live history with per-snapshot row totals"),
    Q("maint_cluster_rewrite", clusterRewrite, Some(clusterRewriteOracle),
      "sort-order rewrite: files re-clustered for pruning, contents identical"),
    Q("maint_partition_evolution", partitionEvolution,
      Some(partitionEvolutionOracle),
      "partition-spec evolution: metadata-only re-spec, rewrite-on-touch migration, pruned post-migration merge"),
    Q("maint_rollback_tag", rollbackTag, Some(rollbackTagOracle),
      "tagged reference + rollback: VERSION AS OF 'tag' and post-rollback current both equal the pre-delete base"),
    Q("maint_mor_delete", morDelete, Some(morDeleteOracle),
      "merge-on-read equality delete: read-time anti-join and post-applyDeletes fold agree"),
    Q("maint_mor_merge", morMerge, Some(morMergeOracle),
      "merge-on-read MERGE: delete file + data files in one commit, zero base rewrite, sequence-scoped read"),
    Q("maint_position_delete", positionDelete, Some(positionDeleteOracle),
      "position delete: (file, ordinal) suppression, clean files on the plain scan path"),
    Q("maint_branch_ff", branchFastForward, Some(branchFastForwardOracle),
      "branch + fast-forward: branch takes the append, main adopts its head metadata-only"),
    Q("maint_date_partition", datePartition, Some(datePartitionOracle),
      "DATE-partitioned table: typed ISO bounds prune a one-day merge natively"),
    Q("maint_changelog", changelog, Some(changelogOracle),
      "changelog (CDC) read: per-commit file-diff EXCEPT surfaces exactly the net row changes"),
    Q("maint_refs", refs, Some(refsOracle),
      "refs metadata table: main/tags/branches with their snapshot pointers"),
    Q("maint_sql_delete", sqlDelete, Some(sqlDeleteOracle),
      "SQL DELETE FROM via the catalog: pushed predicate commits a file-scoped COW delete"),
    Q("maint_sql_insert", sqlInsert, Some(sqlInsertOracle),
      "SQL INSERT INTO via the catalog: V1Write append commits a snapshot"),
    Q("maint_call_procedure", callProcedure, Some(callProcedureOracle),
      "CALL graft.system.* stored procedures: maintenance through the SQL CALL surface"),
    Q("maint_sql_merge", sqlMerge, Some(sqlMergeOracle),
      "SQL MERGE INTO via the row-level-operation path: atomic replace snapshot"),
    Q("maint_mor_sql_read", morSqlRead, Some(morSqlReadOracle),
      "SQL read of a PENDING merge-on-read snapshot through the catalog: " +
        "equality + position deletes apply transparently"),
    Q("maint_rename_widen", renameWiden, Some(renameWidenOracle),
      "RENAME COLUMN + type widening: metadata-only evolution, old files " +
        "read through the manifest evolution log"),
    Q("maint_delete_files", deleteFilesMeta, Some(deleteFilesMetaOracle),
      ".delete_files metadata table: the pending MOR-debt inventory"),
    Q("maint_history", historyMeta, Some(historyMetaOracle),
      ".history metadata table: made_current_at + current-snapshot ancestry"),
    Q("maint_rewrite_deletes", rewriteDeleteFilesQ,
      Some(rewriteDeleteFilesOracle),
      "delete-file compaction: small pending delete parquets merge metadata-only, data untouched"),
    Q("maint_compact_mor", compactMor, Some(compactMorOracle),
      "delete-aware compaction: rewritten bins fold pending MOR deletes, " +
        "carried files stay byte-identical, dead delete files retire"),
    Q("maint_branch_retention", branchRetention, Some(branchRetentionOracle),
      "ref-level retention: per-ref max age drops a stale branch, " +
        "min-snapshots-to-keep trims a kept branch's history"),
    Q("maint_position_deletes_table", positionDeletesMeta,
      Some(positionDeletesMetaOracle),
      ".position_deletes metadata table: the pair-level pending " +
        "position-delete inventory"),
    Q("maint_zorder_rewrite", zorderRewrite, Some(zorderRewriteOracle),
      "Z-order rewrite: bit-interleaved multi-column clustering, " +
        "bounds tighten on both dimensions, contents identical"),
    Q("maint_partitions_deletes", partitionsDeleteDebt,
      Some(partitionsDeleteDebtOracle),
      ".partitions delete-debt columns: per-partition pending position/equality delete files"),
    Q("maint_spj_bucket", spjBucketJoin, Some(spjBucketJoinOracle),
      "bucketed storage-partitioned join: bucket(4,doc_id) tables " +
        "join on doc_id shuffle-free through the FunctionCatalog " +
        "bucket transform"),
    Q("maint_wap", wapPublish, Some(wapPublishOracle),
      "write-audit-publish: staged branch batches publish via " +
        "fast-forward only when the audit passes; rejected batches " +
        "drop whole"),
    Q("maint_wap_conf", wapConfPublish, Some(wapConfPublishOracle),
      "conf-driven WAP (spark.graft.wap.branch): unmodified INSERT " +
        "INTO + UPDATE + DELETE all stage on the conf's branch — " +
        "main provably never moves until fast-forward publishes the " +
        "audited state atomically"),
    Q("maint_hours_partition", hoursPartition, Some(hoursPartitionOracle),
      "hours(ts) hidden partition transform: hourly write clustering " +
        "with int hour bounds, a one-hour-scoped DELETE composes " +
        "(prune and SPJ faces spec-pinned)"),
    Q("maint_variant", variantTable, Some(variantTableOracle),
      "VARIANT (v3) through the native path: SQL CREATE TABLE with a " +
        "variant column, parse_json INSERT, MOR DELETE over it, " +
        "native read with variant_get extraction (residual filter); " +
        "compaction-preserves-values spec-pinned"),
    Q("maint_partition_stats", partitionStats, Some(partitionStatsOracle),
      "compute_partition_stats: one distributed agg grouped by the " +
        "partition transform persists per-partition per-column exact " +
        "NDV/null/bounds; .partition_stats serves them zero-IO " +
        "(spec-staleness guarded, spec-pinned)"),
    Q("maint_partition_stats_inc", partitionStatsInc,
      Some(partitionStatsIncOracle),
      "incremental compute_partition_stats: a partition-confined " +
        "append refreshes ONLY the touched partition's stats over a " +
        "bound-pruned scan (spec-pinned O(touched) + full-recompute " +
        "equality); .partition_stats serves a stale flag"),
    Q("maint_multi_spec", multiSpec, Some(multiSpecOracle),
      "multi-field partition spec (part2, bucket(4, doc_id)): " +
        "per-field file bounds, conjunctive pruning, MOR position " +
        "delete through the compound probe, and the two-transform " +
        "SPJ join pinned shuffle-free"),
    Q("maint_branch_ddl", branchDdl, Some(branchDdlOracle),
      "parser-extension SQL DDL lifecycle: CREATE BRANCH … RETAIN " +
        "forks by DDL, CREATE TAG … AS OF VERSION pins, a WAP-conf " +
        "INSERT stages on the DDL branch, fast_forward publishes, " +
        "DROP BRANCH retires the ref"),
    Q("maint_wap_mor", wapMorPublish, Some(wapMorPublishOracle),
      "WAP staging of merge-on-read DML: staged DELETE + MERGE land " +
        "delete files on the conf branch (main byte-frozen), " +
        "fast-forward publishes them with sequence order preserved"),
    Q("maint_compact_filtered", compactFiltered, Some(compactFilteredOracle),
      "filtered compaction (rewrite_data_files where => …): the " +
        "predicate scopes the bin-pack to matching files, " +
        "out-of-scope files carry byte-identical"),
    Q("maint_dpp_prune", dppPrune, Some(dppPruneOracle),
      "dynamic partition pruning: a selective dim join's runtime " +
        "filter prunes fact files by manifest bounds, MOR-composed"),
    Q("maint_spj_join", spjJoin, Some(spjJoinOracle),
      "storage-partitioned join: co-partitioned snap tables join " +
        "shuffle-free via reported KeyGroupedPartitioning"),
    Q("maint_spj_partial", spjPartialJoin, Some(spjPartialJoinOracle),
      "partially-clustered SPJ: mismatched partition-value sets " +
        "align on the pushed union value set — full outer join with " +
        "zero shuffles below the join, outer-complete rows"),
    Q("maint_stream_native", streamNative, Some(streamNativeOracle),
      "native streaming read: manifest-feed offsets serve appends " +
        "exactly once, a mid-stream rename rides through"),
    Q("maint_stream_available_now", streamAvailableNow,
      Some(streamAvailableNowOracle),
      "Trigger.AvailableNow + maxBytesPerTrigger: byte-capped " +
        "micro-batches drain exactly the present snapshots, then " +
        "the run terminates on its own"),
    Q("maint_partitions", partitionsMeta, Some(partitionsMetaOracle),
      "partitions metadata table: per-partition file/row rollup from " +
        "manifest bounds, zero data IO"),
    Q("maint_all_files", allFilesMeta, Some(allFilesMetaOracle),
      ".all_files metadata table: the live ∪ branch-referenced " +
        "retention set, branch-exclusive rows exactly the difference " +
        "from the current snapshot"),
    Q("maint_changelog_mor", changelogMor, Some(changelogMorOracle),
      "changelog over a MOR eq-delete commit: manifest keys net into " +
        "DELETE pre-image rows from key-bounds-matching files only, " +
        "no applyDeletes fold"),
    Q("maint_time_travel_ts", timeTravelTs, Some(timeTravelTsOracle),
      "TIMESTAMP AS OF time travel: stamped commit instants resolve " +
        "to the latest snapshot at-or-before, hash-verified between " +
        "two commits"),
    Q("maint_sql_merge_delete", sqlMergeDelete, Some(sqlMergeDeleteOracle),
      "full MERGE clause surface: MATCHED DELETE, MATCHED UPDATE, " +
        "NOT MATCHED INSERT, NOT MATCHED BY SOURCE UPDATE in one " +
        "atomic replace snapshot"),
    Q("maint_view", viewRead, Some(viewReadOracle),
      "persisted views: stored definition resolves via the injected " +
        "rule, filter pushes through to the base scan"),
    Q("maint_register_table", registerTable, Some(registerTableOracle),
      "register_table: external root adopted zero-copy (manifests " +
        "included), SQL INSERT through the registered name commits " +
        "on the source"),
    Q("maint_row_lineage", rowLineage, Some(rowLineageOracle),
      "v3 row lineage: ids assigned at commit, stable across a " +
        "compact (materialized) AND a copy-on-write UPDATE (carried " +
        "via required metadata attributes); last-updated sequence " +
        "bumps exactly on the rows the MOR and COW updates touched"),
    Q("maint_table_stats", tableStats, Some(tableStatsOracle),
      "compute_table_stats: per-column NDV/null stats computed " +
        "distributed, persisted, served to the CBO"),
    Q("maint_sql_delete_mor", sqlDeleteMor, Some(sqlDeleteMorOracle),
      "merge-on-read SQL DELETE (write.delete.mode): position-delete " +
        "file committed, zero data rewrite, reads net the pairs"),
    Q("maint_changelog_updates", changelogUpdates,
      Some(changelogUpdatesOracle),
      "changelog update pairing (compute_updates): same-identifier " +
        "delete+insert in one commit relabel UPDATE_BEFORE/AFTER"),
    Q("maint_sql_merge_mor", sqlMergeMor, Some(sqlMergeMorOracle),
      "merge-on-read SQL MERGE (write.merge.mode): split " +
        "delete+reinsert pairs + new data files, base files untouched"),
    Q("maint_add_files", addFilesRead, Some(addFilesReadOracle),
      "add_files onboarding: metadata-only adoption of external " +
        "parquet (one stats job, zero rewrite); adopted files prune, " +
        "read, and take MOR deletes like owned ones"),
    Q("maint_wap_id", wapIdPublish, Some(wapIdPublishOracle),
      "id-keyed WAP (spark.wap.id): INSERT stages an unreferenced " +
        "snapshot, main frozen, cherry-pick publishes exactly the " +
        "staged rows"),
    Q("maint_all_entries", allEntriesMeta, Some(allEntriesMetaOracle),
      ".all_entries metadata table: per-snapshot entry diffs across " +
        "a create/append/rollback chain, rollback reporting the " +
        "appended files gone"),
    Q("maint_create_ctas", createCtas, Some(createCtasOracle),
      "CREATE TABLE + CTAS through the catalog: table born empty " +
        "metadata-only, the SELECT lands as its first write, INSERT " +
        "and DELETE faces work on the created table"),
    Q("maint_snapshot_clone", snapshotClone, Some(snapshotCloneOracle),
      "CALL snapshot: zero-copy clone referencing the source's files " +
        "(pending MOR delete carried), diverging by a clone-only " +
        "append while the source stays frozen"),
    Q("maint_migrate", migrateRead, Some(migrateReadOracle),
      "CALL migrate: plain parquet directory converted in place to a " +
        "snapshot table (files adopted where they sit), then MOR " +
        "DML applies to the adopted files"),
    Q("maint_add_default", addDefault, Some(addDefaultOracle),
      "ADD COLUMN DEFAULT (v3 initial defaults): pre-evolution files " +
        "read the constant, post-evolution writes carry explicit " +
        "values"),
    Q("maint_delete_vectors", deleteVectors, Some(deleteVectorsOracle),
      "deletion vectors (v3): per-data-file delta-varint blobs, " +
        "merge-and-supersede on re-delete, ordinal application on " +
        "read"),
    Q("maint_metadata_cols", metadataCols, Some(metadataColsOracle),
      "metadata columns _file/_pos through the native DSv2 read: " +
        "every physical row identified exactly once"))
}
