package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One implemented operator/query from SURVEY.md §2: a Spark program
  * plus (when SQL-expressible) the equivalent DuckDB oracle text the
  * driver hash-compares against.
  *
  * EXECUTION CONTRACT (ADVICE r16): some query functions `.cache()`
  * multi-referenced intermediate frames and rely on the HARNESS to
  * call `spark.catalog.clearCache()` after each query's action. A
  * harness that runs registry entries back-to-back without clearing
  * accumulates cross-query cached state (storage pressure, and one
  * query's cache can mask another's plan — the PlanAuditSpec hazard).
  * Run entries through [[GraftSession.runEntry]], which does
  * `fn(spark, dir)` → one action → `spark.catalog.clearCache()`;
  * Bench, Verify and Explain all do.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

object Registry {
  /** Ordered inventory; SparkEntry derives its maps from this. */
  def all: Seq[Q] =
    queries.Tpch.all ++
      queries.TpcdsShapes.all ++
      queries.TpcdsCtes.all ++
      queries.Bucketed.all ++
      queries.PartitionedWarehouse.all ++
      queries.Corpus.all ++
      queries.TpcdsCorpus.all ++
      ops.TextAnalysis.all ++
      ops.PipelineOps.all ++
      ops.Retrieval.all ++
      ops.Curation.all ++
      ops.Dedup.all ++
      ops.Graph.all ++
      ops.Maintenance.all ++
      ops.SkewJoin.all ++
      ops.Similarity.all ++
      ops.Multimodal.all ++
      plans.TopKQueries.all ++
      sources.SyntheticQueries.all ++
      streaming.EventWindows.all
}
