package graft.tools
import org.apache.spark.sql.functions._

/** Dev probe: round count + per-round wall time of the dedup
  * connected-components loop at a fixture, to size round-reduction
  * work (pointer jumping) against per-round job overhead.
  * Usage: CcRounds <sfDir>
  */
object CcRounds {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local()
    val dir = args(0)
    val links = graft.ops.Dedup.minhashLsh(s, dir)
      .filter(col("jacc") >= 0.8).select(col("a_id"), col("b_id"))
    val edges = links.union(links.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").distinct().cache()
    println(s"[cc] edges=${edges.count()} nodes=${edges.select("dst").distinct().count()}")
    // Mirrors Dedup.clusters' fused round-1 seed (r17): against the
    // identity labels the first round's join is a no-op, so the seed
    // IS the post-round-1 frame — one keyed aggregate, no join.
    val t0s = System.nanoTime()
    var labels = graft.ops.Pin.pin(
      edges.groupBy(col("dst").as("node")).agg(min(col("src")).as("nlbl"))
        .select(col("node"), least(col("node"), col("nlbl")).as("lbl")))
    println(f"[cc] fused seed (round 1) dt=${(System.nanoTime() - t0s) / 1e9}%.2fs")
    var changed = 1L
    var rounds = 1
    while (changed > 0 && rounds < 50) {
      val t0 = System.nanoTime()
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min(col("lbl")).as("nlbl"))
      val step = graft.ops.Pin.pin(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")),
        supersedes = Some(labels))
      changed = step.filter(col("lbl") < col("old")).count()
      labels = step.select(col("node"), col("lbl"))
      rounds += 1
      println(f"[cc] round $rounds changed=$changed dt=${(System.nanoTime()-t0)/1e9}%.2fs")
    }
    s.stop()
  }
}
