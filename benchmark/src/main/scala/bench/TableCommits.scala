package bench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.SnapStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** What a read of the table must return: row count and exact sums of
  * the key and the (integral) quantity column.
  */
final case class Expect(rows: Long, keySum: Long, qtySum: Long)

/** The table_commits op script. Each pass creates a fresh table from
  * the lineitem rows, runs `Rounds` rounds of append, pruned range
  * read, copy-on-write merge, merge-on-read equality delete and full
  * read, then compacts and expires snapshots (one op) and reads once
  * more. The seed and the pass number pick every key and value; an
  * in-memory model of the table follows the script, so each read has a
  * known answer. Commit sizes follow the engine's own table lifecycles
  * (see the constants in the companion object).
  */
final class TableCommits(spark: SparkSession, base: Seq[TableCommits.R],
    seed: Long) {
  import TableCommits._

  /** Seconds of each SnapStore commit or maintenance call since the last
    * `drainCalls`. */
  private val calls = mutable.ArrayBuffer.empty[(String, Double)]
  def drainCalls(): Seq[(String, Double)] = { val c = calls.toList; calls.clear(); c }

  private def call[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    calls += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  private val schema = StructType(Seq(StructField("k", LongType, false),
    StructField("month", IntegerType, false),
    StructField("qty", DoubleType, false),
    StructField("price", DoubleType, false)))

  private def frame(rows: Seq[R]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.k, r.month, r.qty.toDouble,
      r.price)).asJava, schema)

  /** Live rows by key, with a key array for uniform sampling. */
  private final class Model {
    val rows = mutable.HashMap.empty[Long, R]
    val keys = mutable.ArrayBuffer.empty[Long]
    private val at = mutable.HashMap.empty[Long, Int]
    def put(r: R): Unit = {
      if (!rows.contains(r.k)) { at(r.k) = keys.size; keys += r.k }
      rows(r.k) = r
    }
    def remove(k: Long): Unit = at.remove(k).foreach { i =>
      val last = keys.remove(keys.size - 1)
      if (last != k) { keys(i) = last; at(last) = i }
      rows.remove(k)
    }
    def expect(keep: R => Boolean = _ => true): Expect = {
      val live = rows.valuesIterator.filter(keep).toSeq
      Expect(live.size.toLong, live.map(_.k).sum, live.map(_.qty.toLong).sum)
    }
  }

  /** The ops of pass `pass` against a table at `table`, plus a hook
    * that runs after the last round (before compaction).
    */
  def script(pass: Int, table: Path, afterRounds: () => Unit): Seq[Op] = {
    val rnd = new scala.util.Random(seed * 1000003L + pass)
    val model = new Model
    var nextKey = base.size.toLong
    def fresh(month: Int): R = {
      val r = R(nextKey, month, 1 + rnd.nextInt(50),
        math.round((900 + rnd.nextDouble() * 104100) * 100) / 100.0)
      nextKey += 1
      r
    }
    def inWindow(lo: Int): Seq[R] = model.keys.iterator.map(model.rows)
      .filter(r => r.month >= lo && r.month < lo + Window).toSeq
    val ops = mutable.ArrayBuffer.empty[Op]
    ops += Op("snap_create", () => {
      call("create")(SnapStore.create(spark, table, frame(base), "month",
        keyCol = "k"))
      None
    }, ingested = base.size * RowBytes)
    base.foreach(model.put)
    for (_ <- 1 to Rounds) {
      val appended = Seq.fill(base.size / AppendDivisor)(fresh(rnd.nextInt(Months)))
      ops += Op("snap_append", () => {
        call("append")(SnapStore.append(spark, table, frame(appended), "month"))
        None
      }, ingested = appended.size * RowBytes)
      appended.foreach(model.put)

      val lo = rnd.nextInt(Months - Window)
      val hi = lo + Window - 1
      ops += Op("snap_read_range", () => Some(
        SnapStore.readPrunedRange(spark, table, lo, hi)
          .where(col("month").between(lo, hi))),
        expect = Some(model.expect(r => r.month >= lo && r.month <= hi)),
        range = true)

      // Updates in one window, inserts in another, disjoint one.
      val upd = rnd.nextInt(Months - Window)
      val ins = (upd + Months / 2) % (Months - Window)
      val inUpd = inWindow(upd)
      val updated = rnd.shuffle(inUpd).take(inUpd.size / UpdateEvery)
        .map(r => r.copy(qty = 1 + rnd.nextInt(50), price = r.price + 1))
      val inserted = Seq.fill(inWindow(ins).size / InsertEvery)(
        fresh(ins + rnd.nextInt(Window)))
      val changes = updated ++ inserted
      ops += Op("snap_merge", () => {
        call("merge")(SnapStore.merge(spark, table, frame(changes), "k", "month"))
        None
      }, ingested = changes.size * RowBytes)
      changes.foreach(model.put)

      val doomed = rnd.shuffle(model.keys.toSeq).take(model.keys.size / DeleteEvery)
      ops += Op("snap_delete", () => {
        val keys = spark.createDataFrame(doomed.map(Row(_)).asJava,
          StructType(Seq(StructField("k", LongType, false))))
        call("delete")(SnapStore.deleteEquality(spark, table, keys, "k"))
        None
      }, ingested = doomed.size * 8L)
      doomed.foreach(model.remove)

      ops += Op("snap_read", () => Some(SnapStore.read(spark, table)),
        expect = Some(model.expect()))
    }
    // Compaction and snapshot expiry run as one maintenance op: expiry
    // alone is a few milliseconds of metadata work, too short to time
    // as an op of its own.
    ops += Op("snap_maintain", () => {
      val bytes = SnapStore.currentManifest(table).files.map(_.bytes).sum
      call("compact")(SnapStore.compact(spark, table, "month",
        targetBytes = bytes / CompactDivisor + 1))
      call("expire")(SnapStore.expire(table, keepLast = 1))
      None
    }, pre = afterRounds)
    ops += Op("snap_read", () => Some(SnapStore.read(spark, table)),
      expect = Some(model.expect()))
    ops.toSeq
  }
}

object TableCommits {
  final case class R(k: Long, month: Int, qty: Int, price: Double)

  val Rounds = 2
  /** Ship months of the lineitem rows (1995-01 on), the partitions. */
  val Months = 84

  // Commit sizes are the shares the engine's table lifecycles
  // (graft.ops.Maintenance, the maint_* entries) commit against their
  // eight-partition documents table; every write there, as here, uses
  // SnapStore's default file count.
  /** One partition in eight: the month window a range read scans and a
    * merge touches. */
  val Window = Months / 8
  /** maint_schema_evolution appends the 20% of rows its create (80%)
    * left out: a quarter of the base. */
  val AppendDivisor = 4
  /** maint_merge_upsert updates every third row of one partition and
    * inserts new keys for every eleventh row of another. */
  val UpdateEvery = 3
  val InsertEvery = 11
  /** maint_mor_delete equality-deletes every seventeenth key. */
  val DeleteEvery = 17
  /** maint_compaction bin-packs to a quarter of the table per file;
    * maint_snapshot_expiry keeps the last snapshot only. */
  val CompactDivisor = 4
  /** Bytes of one row's values (long, int, two doubles). */
  val RowBytes = 28L

  /** Every lineitem row in a total order, keyed 0 until the row count. */
  def lineitem(spark: SparkSession, dir: String): Seq[R] =
    spark.read.parquet(s"$dir/lineitem.parquet")
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_shipdate")
      .select(
        ((year(col("l_shipdate")) - 1995) * 12 + month(col("l_shipdate")) - 1)
          .as("month"),
        col("l_quantity").cast("int"), col("l_extendedprice"))
      .collect().zipWithIndex.map { case (r, i) =>
        R(i.toLong, r.getInt(0), r.getInt(1), r.getDouble(2))
      }.toSeq

  /** File path → size for every file under `root`. */
  def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }

  /** Bytes under the table root per byte of live data and delete files. */
  def spaceAmp(table: Path): Double = {
    val m = SnapStore.currentManifest(table)
    val live = m.files.map(_.bytes).sum + m.deleteFiles.map(_.bytes).sum
    files(table).values.sum.toDouble / math.max(1L, live)
  }
}
