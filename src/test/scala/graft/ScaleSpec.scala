package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Runtime scale mechanics pinned as tests: AQE splitting a skewed
  * join partition, and partition-pruned scans over a
  * `partitionBy`-written layout. Neither changes query semantics —
  * both are the difference between a plan that survives 100× data and
  * one that stalls on a hot key or a full scan, so they are pinned
  * here the same way PlanAuditSpec pins the join strategies.
  */
class ScaleSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      // Keep AQE from folding the small side's partitions first, which
      // would mask the skew-split under test.
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // One pathological key (0) carrying half the rows — the shape a
      // stop-word join key or null-heavy foreign key produces at scale.
      val left = spark.range(0, 200000)
        .select(when(col("id") % 2 === 0, 0L).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("pay"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 7).as("dim"))
      val j = left.join(right, "k")
      // Execute THIS QueryExecution so AQE finalizes it (count() would
      // plan and adapt a different query).
      val n = j.toLocalIterator().asScala.size
      // 100000 rows of k=0 plus the 500 odd keys in [1, 999].
      assert(n === 100500)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (plan:\n$plan)")
    }
  }

  private implicit class IterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  test("runtime Bloom filter prunes the probe side of a selective join") {
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions.sum
      // Selective build side: few orders survive the filter, so Spark
      // injects might_contain(...) on the lineitem scan — rows are
      // dropped BEFORE the shuffle, the 100 TB win of runtime filters.
      val o = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val l = Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_quantity"))
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter was injected:\n$plan")
      val got = j.collect().head.getDouble(0)
      val want = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity"))).collect().head.getDouble(0)
      assert(got === want)
    }
  }

  test("partitionBy layout prunes partitions on a lang filter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val src = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    src.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/docs")
    val filtered = spark.read.parquet(s"$dir/docs").filter(col("lang") === "en")
    val got = filtered.orderBy("doc_id").collect()
    val want = src.filter(col("lang") === "en").orderBy("doc_id")
      .select(col("doc_id"), col("n_chars"), col("lang")).collect()
    assert(got.length === want.length && got.nonEmpty)
    val planStr = filtered.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") && planStr.contains("lang"),
      s"lang filter did not reach partition pruning:\n$planStr")
    // The executed scan must have read strictly fewer files than the
    // layout holds (numFiles is the post-pruning metric).
    val scans = filtered.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, planStr)
    val readFiles = scans.head.metrics("numFiles").value
    val totalFiles = new java.io.File(s"$dir/docs").listFiles()
      .filter(_.getName.startsWith("lang="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(readFiles < totalFiles, s"read $readFiles of $totalFiles files")
  }
}
