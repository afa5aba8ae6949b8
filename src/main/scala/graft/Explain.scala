package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool over registry entries, on the same [[GraftSession]] the
  * bench times and through the same [[GraftSession.runEntry]] contract.
  *
  * {{{
  * runMain graft.Explain plan <sfDir> <nameSubstring>
  * runMain graft.Explain dump <sfDir> <outDir> <suffix> <name> [...]
  * runMain graft.Explain time <sfDir> <reps> <name> [...]
  * }}}
  *
  *  - `plan` prints the formatted physical plan of every entry whose
  *    name contains the substring. An entry that throws prints a
  *    `FAILED <name>: <message>` line and the rest still run; the exit
  *    status is then 1.
  *  - `dump` executes each named entry, then writes its FINAL adaptive
  *    plan (AQE join rewrites and coalesced reads in place) to
  *    `<outDir>/<name>_<suffix>.txt` — the before/after evidence
  *    committed under `plans/`.
  *  - `time` runs each named entry `reps` times the way Bench does and
  *    prints the construction and total seconds of every rep.
  *
  * Session confs are A/B'd with `-Dspark.…` (see [[GraftSession]]).
  */
object Explain {
  private val usage =
    "usage: Explain plan <sfDir> <pattern> | " +
      "dump <sfDir> <outDir> <suffix> <name>... | time <sfDir> <reps> <name>..."

  def main(args: Array[String]): Unit = {
    val minArgs = Map("plan" -> 3, "dump" -> 5, "time" -> 4)
    if (!args.headOption.flatMap(minArgs.get).exists(args.length >= _)) {
      System.err.println(usage)
      sys.exit(2)
    }
    val dir = args(1)
    val spark = GraftSession.local()
    def entry(name: String) = SparkEntry.queries.getOrElse(name,
      sys.error(s"no registry entry named '$name'"))
    args(0) match {
      case "plan" =>
        val failed = Registry.all.filter(_.name.contains(args(2))).flatMap { q =>
          println(s"===== ${q.name}")
          try {
            GraftSession.runEntry(spark, q.fn, dir) { df =>
              println(df.queryExecution.explainString(FormattedMode))
            }
            None
          } catch { case NonFatal(e) =>
            println(s"FAILED ${q.name}: ${e.getMessage}")
            Some(q.name)
          }
        }
        if (failed.nonEmpty) {
          System.err.println(s"${failed.size} entries failed: ${failed.mkString(", ")}")
          spark.stop()
          sys.exit(1)
        }
      case "dump" =>
        val outDir = Paths.get(args(2))
        val suffix = args(3)
        Files.createDirectories(outDir)
        args.drop(4).foreach { name =>
          GraftSession.runEntry(spark, entry(name), dir) { df =>
            // Drive df's OWN QueryExecution (a noop write would plan a
            // fresh one) so the explain shows isFinalPlan=true. A no-op
            // foreach over the plan's RDD computes every partition
            // without collecting rows to the driver.
            df.queryExecution.executedPlan.execute().foreach(_ => ())
            val txt = df.queryExecution.explainString(FormattedMode)
            Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
            println(s"[dump] wrote ${name}_$suffix.txt (${txt.length} chars)")
          }
        }
      case "time" =>
        val reps = args(2).toInt
        // One-time table materialization stays out of the timed reps,
        // as in Bench.
        queries.Corpus.register(spark, dir)
        queries.TpcdsCorpus.register(spark, dir)
        queries.Bucketed.register(spark, dir)
        queries.PartitionedWarehouse.register(spark, dir)
        args.drop(3).foreach { name =>
          val runs = (1 to reps).map(_ =>
            GraftSession.runEntry(spark, entry(name), dir)(GraftSession.noop))
          def fmt(ts: Seq[Double]) = ts.map(t => f"$t%.2f").mkString("[", ",", "]")
          println(f"[time] $name min=${runs.map(_._2).min}%.2f " +
            s"total=${fmt(runs.map(_._2))} construction=${fmt(runs.map(_._1))}")
        }
    }
    spark.stop()
  }
}
