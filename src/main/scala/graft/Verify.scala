package graft
import java.nio.file.Paths

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local dev only): restrict to queries whose
    // name contains the substring. The driver always passes 2 args.
    val nameFilter = args.lift(2)
    // Same session as Bench, so the correctness gate exercises the
    // plans (join policy, TopKPerKey rewrite) the bench times.
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.contains) }
      .foreach { case (name, fn) =>
      try GraftSession.runEntry(spark, fn, sfDir) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val oracle = SparkEntry.oracleSql
      .filter { case (k, _) => nameFilter.forall(k.contains) }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(s"$outDir/oracle_sql.json").toFile, oracle)
    spark.stop()
  }
}
