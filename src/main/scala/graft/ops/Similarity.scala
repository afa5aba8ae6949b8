package graft.ops

import graft.{Q, Tables}
import graft.Cols._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (builder brief): brute-force cosine top-k as the correctness
  * baseline, and an IVF-style two-stage search (centroid route →
  * cluster-local scan) as the scale path.
  *
  * Scale design (100 TB): the query set is tiny and broadcast; the
  * brute-force scan is a single pass over the vectors with no
  * shuffle until the per-query top-k (TakeOrderedAndProject-shaped).
  * The IVF variant prunes the scan to one cluster per query — the
  * same plan a real IVF index executes, with the fixture `label` as
  * the posting-list key; centroids are a tiny aggregate that
  * broadcasts.
  *
  * Dot products are left folds over `zip_with` in index order, in
  * double — bit-identical to the DuckDB oracle's list_reduce.
  */
object Similarity {

  // Codegen'd native expression (graft.functions.VectorDot) — same
  // index-ordered summation as the HOF fold it replaced, ~an order of
  // magnitude less per-pair overhead.
  private val dotExpr = "vec_dot(q_v, c_v)"
  private val normExpr = "sqrt(vec_dot(v, v))"

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr(normExpr))
  }

  // ---------------------------------------------------------------
  /** Brute-force cosine top-10 for each query vector (vec_id < 3):
    * broadcast the queries, one scan over all candidates, window
    * top-k per query.
    */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("norm").as("q_norm"))
    val c = e.select(col("vec_id").as("cand_id"), col("label").as("cand_label"),
      col("v").as("c_v"), col("norm").as("c_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(q).join(c, col("q_id") =!= col("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 10)
      .select(col("q_id"), col("cand_id"), col("cand_label"), col("cosine"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val bruteForceTopKOracle: String = {
    val norm = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (x, y) -> x + y)"
    s"""WITH e AS (
       |  SELECT vec_id, label, v, $norm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) raw),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id, c.label AS cand_label,
       |    $dot / (q.norm * c.norm) AS cosine
       |  FROM e q, e c
       |  WHERE q.vec_id < 3 AND q.vec_id <> c.vec_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cand_label, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT q_id, cand_id, cand_label, cosine, rnk
       |FROM ranked WHERE rnk <= 10
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  /** IVF-style ANN: (1) per-label centroids from a column-wise
    * average (posexplode → groupBy(label, dim)); (2) route each query
    * to its max-cosine centroid; (3) scan only that cluster for the
    * top-5. Exact decimal sums keep centroid values and scores
    * bit-identical to DuckDB.
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val dims = e.select(col("label"), col("vec_id"), posexplode(col("v")))
      .select(col("label"), col("vec_id"), (col("pos") + 1).as("i"), col("col").as("val"))
    val centroids = dims.groupBy(col("label"), col("i"))
      .agg(davg(col("val")).as("cval"))
    val cnorms = centroids.groupBy(col("label"))
      .agg(sqrt(dsum(col("cval") * col("cval"))).as("cnorm"))
    val q = e.filter(col("vec_id") < 3)
    val qdims = q.select(col("vec_id").as("q_id"), posexplode(col("v")))
      .select(col("q_id"), (col("pos") + 1).as("i"), col("col").as("qval"))
    val routed = qdims.join(broadcast(centroids), Seq("i"))
      .groupBy(col("q_id"), col("label"))
      .agg(dsum(col("qval") * col("cval")).as("dot"))
      .join(broadcast(cnorms), Seq("label"))
      .join(q.select(col("vec_id").as("q_id"), col("norm").as("q_norm")), Seq("q_id"))
      .withColumn("ccos", col("dot") / (col("q_norm") * col("cnorm")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("label"))))
      .filter(col("crnk") === 1)
      .select(col("q_id"), col("label").as("best_label"))
    val qv = q.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(routed.join(qv, Seq("q_id")))
      .join(e.select(col("vec_id").as("cand_id"), col("label"),
          col("v").as("c_v"), col("norm").as("c_norm")),
        col("best_label") === col("label") && col("q_id") =!= col("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("best_label"), col("cand_id"), col("cosine"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val ivfTopKOracle: String = {
    val norm = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (x, y) -> x + y)"
    s"""WITH e AS (
       |  SELECT vec_id, label, v, $norm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) raw),
       |dims AS (
       |  SELECT label, vec_id, i, v[i] AS val
       |  FROM e, range(1, 65) t(i)),
       |centroids AS (
       |  SELECT label, i, ${davgSql("val")} AS cval
       |  FROM dims GROUP BY label, i),
       |cnorms AS (
       |  SELECT label, sqrt(${dsumSql("cval * cval")}) AS cnorm
       |  FROM centroids GROUP BY label),
       |qdims AS (
       |  SELECT vec_id AS q_id, i, v[i] AS qval
       |  FROM e, range(1, 65) t(i) WHERE vec_id < 3),
       |dots AS (
       |  SELECT qd.q_id, cd.label, ${dsumSql("qval * cval")} AS dot
       |  FROM qdims qd, centroids cd WHERE qd.i = cd.i
       |  GROUP BY qd.q_id, cd.label),
       |routed AS (
       |  SELECT d.q_id, d.label,
       |    ROW_NUMBER() OVER (PARTITION BY d.q_id
       |      ORDER BY d.dot / (qn.norm * cn.cnorm) DESC, d.label) AS crnk
       |  FROM dots d, cnorms cn, e qn
       |  WHERE d.label = cn.label AND qn.vec_id = d.q_id),
       |best AS (SELECT q_id, label AS best_label FROM routed WHERE crnk = 1),
       |scored AS (
       |  SELECT best.q_id, best_label, c.vec_id AS cand_id,
       |    $dot / (q.norm * c.norm) AS cosine
       |  FROM best, e q, e c
       |  WHERE q.vec_id = best.q_id AND c.label = best_label
       |    AND c.vec_id <> best.q_id),
       |ranked AS (
       |  SELECT q_id, best_label, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT q_id, best_label, cand_id, cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  /** IVF with nprobe = 2: route each query to its TWO highest-cosine
    * centroids and scan the union of both posting lists — the
    * recall/cost dial every real IVF index exposes (nprobe=1 risks
    * missing neighbors that sit just across a cluster boundary).
    * Clusters are disjoint, so the union needs no dedup; the final
    * top-5 ranks across both probed clusters.
    */
  def ivfTopKProbe2(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
    val dims = e.select(col("label"), col("vec_id"), posexplode(col("v")))
      .select(col("label"), col("vec_id"), (col("pos") + 1).as("i"), col("col").as("val"))
    val centroids = dims.groupBy(col("label"), col("i"))
      .agg(davg(col("val")).as("cval"))
    val cnorms = centroids.groupBy(col("label"))
      .agg(sqrt(dsum(col("cval") * col("cval"))).as("cnorm"))
    val q = e.filter(col("vec_id") < 3)
    val qdims = q.select(col("vec_id").as("q_id"), posexplode(col("v")))
      .select(col("q_id"), (col("pos") + 1).as("i"), col("col").as("qval"))
    val routed = qdims.join(broadcast(centroids), Seq("i"))
      .groupBy(col("q_id"), col("label"))
      .agg(dsum(col("qval") * col("cval")).as("dot"))
      .join(broadcast(cnorms), Seq("label"))
      .join(q.select(col("vec_id").as("q_id"), col("norm").as("q_norm")), Seq("q_id"))
      .withColumn("ccos", col("dot") / (col("q_norm") * col("cnorm")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("label"))))
      .filter(col("crnk") <= 2)
      .select(col("q_id"), col("label").as("probe_label"))
    val qv = q.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      col("norm").as("q_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(routed.join(qv, Seq("q_id")))
      .join(e.select(col("vec_id").as("cand_id"), col("label"),
          col("v").as("c_v"), col("norm").as("c_norm")),
        col("probe_label") === col("label") && col("q_id") =!= col("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("cand_id"), col("label").as("cand_label"),
        col("cosine"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val ivfTopKProbe2Oracle: String = {
    val norm = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (x, y) -> x + y)"
    s"""WITH e AS (
       |  SELECT vec_id, label, v, $norm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) raw),
       |dims AS (
       |  SELECT label, vec_id, i, v[i] AS val
       |  FROM e, range(1, 65) t(i)),
       |centroids AS (
       |  SELECT label, i, ${davgSql("val")} AS cval
       |  FROM dims GROUP BY label, i),
       |cnorms AS (
       |  SELECT label, sqrt(${dsumSql("cval * cval")}) AS cnorm
       |  FROM centroids GROUP BY label),
       |qdims AS (
       |  SELECT vec_id AS q_id, i, v[i] AS qval
       |  FROM e, range(1, 65) t(i) WHERE vec_id < 3),
       |dots AS (
       |  SELECT qd.q_id, cd.label, ${dsumSql("qval * cval")} AS dot
       |  FROM qdims qd, centroids cd WHERE qd.i = cd.i
       |  GROUP BY qd.q_id, cd.label),
       |routed AS (
       |  SELECT d.q_id, d.label,
       |    ROW_NUMBER() OVER (PARTITION BY d.q_id
       |      ORDER BY d.dot / (qn.norm * cn.cnorm) DESC, d.label) AS crnk
       |  FROM dots d, cnorms cn, e qn
       |  WHERE d.label = cn.label AND qn.vec_id = d.q_id),
       |probes AS (SELECT q_id, label AS probe_label FROM routed WHERE crnk <= 2),
       |scored AS (
       |  SELECT probes.q_id, c.vec_id AS cand_id, c.label AS cand_label,
       |    $dot / (q.norm * c.norm) AS cosine
       |  FROM probes, e q, e c
       |  WHERE q.vec_id = probes.q_id AND c.label = probe_label
       |    AND c.vec_id <> probes.q_id),
       |ranked AS (
       |  SELECT q_id, cand_id, cand_label, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT q_id, cand_id, cand_label, cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Per-label centroids via the typed [[graft.functions.VecSumMicro]]
    * Aggregator: one scan, element-wise exact micro-unit sums with
    * map-side partials — no posexplode row blow-up. The micro-sum
    * vector is folded to a scalar polynomial fingerprint in the
    * output (the correctness gate hash-sorts columns and cannot
    * process array cells); centroid = micro/1e6/n downstream of the
    * Aggregator, which is unchanged.
    */
  def centroids(s: SparkSession, dir: String): DataFrame = {
    val vecSum = udaf(new graft.functions.VecSumMicro(64))
    Tables.embeddings(s, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("v"))
      .groupBy(col("label"))
      .agg(vecSum(col("v")).as("centroid_micro"), count(lit(1)).as("n"))
      .withColumn("centroid_fp", expr(
        "aggregate(centroid_micro, CAST(0 AS BIGINT), " +
          "(a, x) -> (a * 31 + x) % 1000000007)"))
      .select(col("label"), col("centroid_fp"), col("n"))
      .orderBy(col("label"))
  }

  val centroidsOracle: String =
    """WITH dims AS (
      |  SELECT label, i, CAST(floor(v[i] * 1e6) AS BIGINT) AS micro
      |  FROM (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) e,
      |    range(1, 65) t(i)),
      |sums AS (
      |  SELECT label, i, CAST(SUM(micro) AS BIGINT) AS m
      |  FROM dims GROUP BY label, i),
      |cent AS (
      |  SELECT label,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), list(m ORDER BY i)),
      |      (a, x) -> (a * 31 + x) % 1000000007) AS centroid_fp
      |  FROM sums GROUP BY label),
      |counts AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
      |SELECT cent.label, centroid_fp, n
      |FROM cent, counts WHERE cent.label = counts.label
      |ORDER BY cent.label""".stripMargin

  // ---------------------------------------------------------------
  /** k-nearest-neighbor graph edges over int8-quantized vectors: a 2%
    * deterministic query sample (vec_id % 50 == 0) is broadcast
    * against its own label cluster, scored by the INTEGER dot product
    * of the quantized codes, top-3 per query. This is the
    * quantized-index complement to [[bruteForceTopK]]: at 100 TB the
    * int8 codes are 4× smaller than float32 (scan-bandwidth bound),
    * the query side stays broadcast, and — because the scores are
    * exact integers — ranking is bit-deterministic across engines,
    * partitionings, and retries (no float tie ambiguity at all).
    */
  def knnInt8(s: SparkSession, dir: String): DataFrame = {
    val q8 = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("amax",
        expr("aggregate(v, CAST(0 AS DOUBLE), (a, x) -> greatest(a, abs(x)))"))
      .filter(col("amax") > 0)
      .withColumn("q",
        expr("transform(v, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT))"))
      .select(col("vec_id"), col("label"), col("q"))
    val queries = q8.filter(pmod(col("vec_id"), lit(50L)) === 0)
      .select(col("vec_id").as("q_id"), col("label"), col("q").as("qv"))
    val cands = q8.select(col("vec_id").as("cand_id"), col("label"),
      col("q").as("cv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("cand_id"))
    cands.join(broadcast(queries), Seq("label"))
      .filter(col("cand_id") =!= col("q_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(qv, cv, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("cand_id"), col("label"), col("dot"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val knnInt8Oracle: String =
    """WITH e AS (
      |  SELECT vec_id, label, v,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(v, x -> abs(x))), (a, x) -> greatest(a, x)) AS amax
      |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |        FROM embeddings) raw),
      |q8 AS (
      |  SELECT vec_id, label,
      |    list_transform(v, x -> CAST(floor(x / (amax / 127.0) + 0.5) AS BIGINT)) AS q
      |  FROM e WHERE amax > 0),
      |scored AS (
      |  SELECT qs.vec_id AS q_id, c.vec_id AS cand_id, c.label,
      |    list_sum(list_transform(range(1, 65), i -> qs.q[i] * c.q[i])) AS dot
      |  FROM q8 qs JOIN q8 c
      |    ON qs.label = c.label AND qs.vec_id <> c.vec_id
      |  WHERE qs.vec_id % 50 = 0),
      |ranked AS (
      |  SELECT q_id, cand_id, label, CAST(dot AS BIGINT) AS dot,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY dot DESC, cand_id) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT q_id, cand_id, label, dot, rnk
      |FROM ranked WHERE rnk <= 3
      |ORDER BY q_id, rnk""".stripMargin

  // ---------------------------------------------------------------
  /** LSH-bucketed ANN: 4 deterministic pseudo-random hyperplanes
    * (integer weights `((1000003*j + 7919*i) % 2001) - 1000`) hash
    * every vector to a 4-bit sign signature; each query scans only its
    * own bucket and reranks by exact cosine. The third ANN face beside
    * brute force and IVF (the builder brief names both index families):
    * where IVF routes through learned centroids, LSH needs no training
    * pass — one linear signature scan and a keyed equi-join on the
    * bucket id, the natural first index for an append-only corpus.
    *
    * Scale: signatures are a keyed agg over (vec, plane); the
    * candidate join is equi on `sig` (bounded by bucket occupancy,
    * never all-pairs); queries broadcast. 4 planes is the
    * recall/selectivity dial (k planes → 2^k buckets).
    *
    * Determinism: hyperplane dots accumulate through DECIMAL(38,6)
    * ([[graft.Cols.dsum]]) so the sign — and therefore the bucket —
    * cannot flip on summation order; rerank cosines are the same
    * index-ordered fold as [[bruteForceTopK]].
    */
  /** 4-bit hyperplane sign signature per vector — the LSH bucket id
    * shared by [[lshTopK]] and [[contrastivePairs]]. Decimal-summed
    * plane dots: the sign (hence the bucket) is order-independent.
    *
    * Per-row native since r17 ([[graft.functions.LshSig4]], guide
    * §8/§2.4): the old form posexploded 64 dims × 4 planes (256
    * shuffled rows per vector) through TWO groupBy exchanges, then
    * re-attached the result with a join per consumer; `lsh_sig4`
    * computes the identical decimal-exact sign signature in one fused
    * loop per vector row, so the bucket id is now a projected column
    * — no exchange, no re-attach join, no cache (LshSigSpec pins
    * bit-equality against the exploded/aggregated form).
    */
  private def withLshSig(e: DataFrame): DataFrame =
    e.withColumn("sig", expr("lsh_sig4(v)"))

  /** Oracle CTE block producing `e(vec_id, label, v, norm)` and
    * `sigs(vec_id, sig)` — the mirror of [[vecs]] + [[withLshSig]]
    * (the oracle keeps the exploded/aggregated signature form that
    * `lsh_sig4` reproduces bit-for-bit).
    */
  private val lshSigSql: String = {
    val norm = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    s"""e AS (
       |  SELECT vec_id, label, v, $norm AS norm
       |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) raw),
       |dims AS (
       |  SELECT vec_id, i, v[i] AS val
       |  FROM e, range(1, 65) t(i)),
       |dots AS (
       |  SELECT vec_id, j,
       |    CAST(SUM(CAST(val * (((1000003 * j + 7919 * i) % 2001) - 1000)
       |      AS DECIMAL(38,6))) AS DOUBLE) AS dot
       |  FROM dims, range(1, 5) p(j)
       |  GROUP BY vec_id, j),
       |sigs AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot >= 0
       |      THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
       |  FROM dots GROUP BY vec_id)""".stripMargin
  }

  def lshTopK(s: SparkSession, dir: String): DataFrame = {
    val e = withLshSig(vecs(s, dir))
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("sig"),
        col("v").as("q_v"), col("norm").as("q_norm"))
    val cands = e
      .select(col("vec_id").as("cand_id"), col("sig"),
        col("v").as("c_v"), col("norm").as("c_norm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    cands.join(broadcast(q), Seq("sig"))
      .filter(col("q_id") =!= col("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("sig"), col("cand_id"), col("cosine"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val lshTopKOracle: String = {
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (x, y) -> x + y)"
    s"""WITH $lshSigSql,
       |scored AS (
       |  SELECT q.vec_id AS q_id, qs.sig, c.vec_id AS cand_id,
       |    $dot / (q.norm * c.norm) AS cosine
       |  FROM e q
       |  JOIN sigs qs ON q.vec_id = qs.vec_id
       |  JOIN sigs cs ON cs.sig = qs.sig
       |  JOIN e c ON c.vec_id = cs.vec_id
       |  WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, sig, cand_id, cosine,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY cosine DESC, cand_id) AS BIGINT) AS rnk
       |  FROM scored)
       |SELECT q_id, sig, cand_id, cosine, rnk
       |FROM ranked WHERE rnk <= 5
       |ORDER BY q_id, rnk""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Contrastive training-pair mining: for each anchor (a 1% hash
    * sample), emit its best POSITIVE (highest-cosine same-label
    * vector in its LSH bucket) and its hardest NEGATIVE
    * (highest-cosine different-label vector in the bucket) plus the
    * margin — the (anchor, positive, hard-negative) triplet an
    * embedding trainer consumes. Hard-negative mining is exactly the
    * case where brute force dies at scale (it wants the MOST similar
    * wrong-label item, not a random one); bucketing by the LSH
    * signature bounds each anchor's candidate set while keeping the
    * negatives genuinely hard (same bucket ⇒ high similarity).
    * Anchors broadcast; one equi-join on sig; two bounded rank
    * windows over the matched candidates only.
    */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    // The bucket id is a per-row projection (lsh_sig4): anchors and
    // candidates read it straight off their scans — the old cached
    // two-exchange sigs frame and its two re-attach joins are gone.
    val e = withLshSig(vecs(s, dir))
    val anchors = e.filter(pmod(col("vec_id"), lit(100L)) === 0)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("q_v"), col("norm").as("q_norm"), col("sig"))
    val cands = e
      .select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("v").as("c_v"), col("norm").as("c_norm"), col("sig"))
    // Best-per-(anchor, polarity) as ONE max_by hash aggregate on the
    // (cosine, -cand_id) order key — same "highest cosine, then
    // lowest cand_id" rule as the old row_number window, without the
    // per-bucket sort and with map-side partials (guide §2.3). The
    // tiny two-rows-per-anchor result is cached because the pos and
    // neg slices both read it; before, each slice re-ran the whole
    // join + window.
    val best = cands.join(broadcast(anchors), Seq("sig"))
      .filter(col("a_id") =!= col("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("is_pos", col("c_label") === col("a_label"))
      .groupBy(col("a_id"), col("is_pos"))
      .agg(max_by(
        struct(col("a_label"), col("cand_id"), col("c_label"), col("cosine")),
        struct(col("cosine"), (-col("cand_id")).as("nid"))).as("best"))
      .select(col("a_id"), col("is_pos"), col("best.a_label").as("a_label"),
        col("best.cand_id").as("cand_id"), col("best.c_label").as("c_label"),
        col("best.cosine").as("cosine"))
      .cache()
    val pos = best.filter(col("is_pos"))
      .select(col("a_id"), col("a_label"),
        col("cand_id").as("pos_id"), col("cosine").as("pos_cos"))
    val neg = best.filter(!col("is_pos"))
      .select(col("a_id"), col("cand_id").as("neg_id"),
        col("c_label").as("neg_label"), col("cosine").as("neg_cos"))
    pos.join(neg, Seq("a_id"))
      .select(col("a_id"), col("a_label"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_label"), col("neg_cos"),
        (col("pos_cos") - col("neg_cos")).as("margin"))
      .orderBy(col("a_id"))
  }

  val contrastivePairsOracle: String = {
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> q.v[i] * c.v[i])), (x, y) -> x + y)"
    s"""WITH $lshSigSql,
       |scored AS (
       |  SELECT q.vec_id AS a_id, q.label AS a_label,
       |    c.vec_id AS cand_id, c.label AS c_label,
       |    $dot / (q.norm * c.norm) AS cosine,
       |    c.label = q.label AS is_pos
       |  FROM e q
       |  JOIN sigs qs ON q.vec_id = qs.vec_id
       |  JOIN sigs cs ON cs.sig = qs.sig
       |  JOIN e c ON c.vec_id = cs.vec_id
       |  WHERE q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT a_id, a_label, cand_id, c_label, cosine, is_pos,
       |    ROW_NUMBER() OVER (PARTITION BY a_id, is_pos
       |      ORDER BY cosine DESC, cand_id) AS rnk
       |  FROM scored),
       |pos AS (
       |  SELECT a_id, a_label, cand_id AS pos_id, cosine AS pos_cos
       |  FROM ranked WHERE rnk = 1 AND is_pos),
       |neg AS (
       |  SELECT a_id, cand_id AS neg_id, c_label AS neg_label,
       |    cosine AS neg_cos
       |  FROM ranked WHERE rnk = 1 AND NOT is_pos)
       |SELECT p.a_id, p.a_label, p.pos_id, p.pos_cos,
       |  n.neg_id, n.neg_label, n.neg_cos,
       |  p.pos_cos - n.neg_cos AS margin
       |FROM pos p JOIN neg n ON p.a_id = n.a_id
       |ORDER BY p.a_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // ---------------------------------------------------------------
  /** Product-quantization ANN with asymmetric-distance (ADC) scoring
    * — the codebook face of IVF-PQ, the index family 100-TB-scale
    * vector search actually ships (codes are M bytes per vector
    * instead of 4·D; scoring is M table lookups instead of a D-dim
    * dot). The 64-dim micro-quantized vectors split into M=8
    * subspaces of 8 dims; the codebook is a deterministic sample (16
    * codes per subspace: the subvectors of every 31st vector) —
    * codebook TRAINING is k-means, already covered by
    * `pipe_kmeans_converge`; this entry exercises the
    * encode/lookup/score machinery that makes PQ an index:
    *
    *  - **Encode** (offline, per corpus vector): nearest code per
    *    subspace by exact integer micro² L2 — one broadcast join
    *    (n·M×16 rows) + one min-struct agg. O(n·M·k), embarrassingly
    *    parallel, codes are 8 small ints per vector.
    *  - **ADC** (per query): a 8×16 lookup table of query-to-code
    *    distances (tiny, broadcast), then each candidate's distance
    *    is the SUM of 8 table hits on its codes — no float vector
    *    math at scan time at all.
    *  - **Audit**: each returned candidate carries its rank under
    *    the EXACT full-dim distance, so the approximation error is
    *    part of the result (the recall-vs-cost evidence), not a
    *    hidden property.
    *
    * Determinism: everything is exact BIGINT micro arithmetic —
    * encoding argmins, LUT entries, ADC sums, and the exact-rank
    * audit are bit-stable across engines and partitionings (ties
    * break on code/candidate id).
    */
  def pqAdcTopK(s: SparkSession, dir: String): DataFrame = {
    val M = 8    // subspaces
    val SD = 8   // dims per subspace
    val K = 16   // codes per subspace
    val mv = vecs(s, dir)
      .withColumn("vm",
        expr("transform(v, x -> CAST(floor(x * 1000000) AS BIGINT))"))
      .select(col("vec_id"), col("vm"))
    val subs = mv
      .withColumn("m", explode(sequence(lit(0), lit(M - 1))))
      .withColumn("sub", expr(s"slice(vm, m * $SD + 1, $SD)"))
      .select(col("vec_id"), col("m"), col("sub"))
    val codebook = subs
      .filter(pmod(col("vec_id"), lit(31L)) === 0 &&
        col("vec_id") < 31L * K)
      .select((col("vec_id") / 31L).cast("long").as("j"), col("m"),
        col("sub").as("csub"))
    // Encode: nearest code per (vector, subspace), exact integer L2,
    // tie -> lower code id (the struct min orders by (d, j)).
    val codes = subs.join(broadcast(codebook), Seq("m"))
      .withColumn("d", expr("vec_l2sq(sub, csub)"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("j"))).as("best"))
      .select(col("vec_id").as("cand_id"), col("m"),
        col("best.j").as("code"))
    // Per-query LUT: distance from the query's subvector to every
    // code of every subspace — M×K rows per query, broadcast.
    val lut = subs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
      .join(broadcast(codebook), Seq("m"))
      .withColumn("qd", expr("vec_l2sq(qsub, csub)"))
      .select(col("q_id"), col("m"), col("j"), col("qd"))
    // ADC: each candidate's approximate distance to each query is the
    // sum of its M code lookups.
    val adc = codes.join(broadcast(lut),
        codes("m") === lut("m") && codes("code") === lut("j"))
      .filter(col("cand_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("cand_id"))
      .agg(sum(col("qd")).as("adc"))
    // Exact full-dim rank per (query, candidate) — the audit column.
    val q = mv.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("vm").as("qm"))
    val exactW = Window.partitionBy(col("q_id"))
      .orderBy(col("exact"), col("cand_id"))
    val exact = mv.select(col("vec_id").as("cand_id"), col("vm"))
      .join(broadcast(q), col("cand_id") =!= col("q_id"))
      .withColumn("exact", expr("vec_l2sq(vm, qm)"))
      .withColumn("exact_rank", row_number().over(exactW).cast("long"))
      .select(col("q_id"), col("cand_id"), col("exact_rank"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("adc"), col("cand_id"))
    adc
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .join(exact, Seq("q_id", "cand_id"))
      .select(col("q_id"), col("rnk"), col("cand_id"), col("adc"),
        col("exact_rank"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val pqAdcTopKOracle: String =
    """WITH raw AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |mv AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor(x * 1000000) AS BIGINT)) AS vm
      |  FROM raw),
      |subs AS (
      |  SELECT vec_id, m, list_slice(vm, m * 8 + 1, m * 8 + 8) AS sub
      |  FROM mv, range(0, 8) t(m)),
      |cb AS (
      |  SELECT CAST(vec_id // 31 AS BIGINT) AS j, m, sub AS csub
      |  FROM subs WHERE vec_id % 31 = 0 AND vec_id < 496),
      |encd AS (
      |  SELECT s.vec_id, s.m, cb.j,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (s.sub[i] - cb.csub[i]) * (s.sub[i] - cb.csub[i])))
      |      AS BIGINT) AS d
      |  FROM subs s JOIN cb ON s.m = cb.m),
      |codes AS (
      |  SELECT vec_id AS cand_id, m, j AS code
      |  FROM (SELECT vec_id, m, j,
      |          ROW_NUMBER() OVER (PARTITION BY vec_id, m
      |            ORDER BY d, j) AS rn
      |        FROM encd) r
      |  WHERE rn = 1),
      |lut AS (
      |  SELECT s.vec_id AS q_id, s.m, cb.j,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (s.sub[i] - cb.csub[i]) * (s.sub[i] - cb.csub[i])))
      |      AS BIGINT) AS qd
      |  FROM subs s JOIN cb ON s.m = cb.m
      |  WHERE s.vec_id < 3),
      |adc AS (
      |  SELECT l.q_id, c.cand_id, CAST(SUM(l.qd) AS BIGINT) AS adc
      |  FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.j
      |  WHERE c.cand_id <> l.q_id
      |  GROUP BY l.q_id, c.cand_id),
      |exact AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_sum(list_transform(range(1, 65),
      |        i -> (q.vm[i] - c.vm[i]) * (q.vm[i] - c.vm[i]))),
      |        c.vec_id) AS BIGINT) AS exact_rank
      |  FROM mv q JOIN mv c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 3),
      |ranked AS (
      |  SELECT q_id, cand_id, adc,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |      ORDER BY adc, cand_id) AS BIGINT) AS rnk
      |  FROM adc)
      |SELECT r.q_id, r.rnk, r.cand_id, r.adc, e.exact_rank
      |FROM ranked r JOIN exact e
      |  ON r.q_id = e.q_id AND r.cand_id = e.cand_id
      |WHERE r.rnk <= 5
      |ORDER BY r.q_id, r.rnk""".stripMargin

  // ---------------------------------------------------------------
  // Persisted IVF index (VERDICT r14 #9): the centroid aggregate and
  // the posting-list assignments materialize as SnapStore tables, so
  // serving a query costs a tiny index read + ONE cluster scan — no
  // per-query re-aggregation of the corpus — and an APPEND to the
  // vector table re-indexes incrementally: the manifest incremental
  // read feeds exactly the new vectors into the assignment append,
  // and the centroid table stores exact DECIMAL(38,6) SUMS + COUNTS
  // per (label, dim), so the refresh merges O(new data) partials
  // with 10×64 stored rows and stays EXACT (means recomputed at
  // query time as csum/ccnt — bit-identical to [[Cols.davg]]). At
  // 100 TB this is the difference between an index and a scan.

  /** Index root beside the other materialized fixtures, keyed by the
    * full fixture path + logic version (same scheme as
    * [[Maintenance.root]]).
    */
  private[graft] def idxRoot(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft-snap",
      graft.queries.Materialize.pathTag(dir, "ivx2"))

  private val Dec38 = org.apache.spark.sql.types.DecimalType(38, 6)

  /** The incremental cursor rides INSIDE the centroid table as a
    * sentinel row `(label = -1, i = 0, csum = 0, ccnt = <indexed
    * vecs version>)`: the overwrite that merges new partials commits
    * the data AND the cursor in ONE snapshot, so a crash anywhere in
    * [[refreshIvfIndex]] leaves a state a re-run converges from —
    * a separate cursor property would let the merge land without the
    * cursor and double-count on retry (review r15 #3). Readers take
    * `i >= 1` (dims are 1-based).
    */
  private def centSentinel(s: SparkSession, vecsVersion: Int): DataFrame =
    s.range(1).select(lit(-1).cast("int").as("label"),
      lit(0).cast("int").as("i"),
      lit(0).cast(Dec38).as("csum"),
      lit(vecsVersion.toLong).as("ccnt"))

  private def centCursor(s: SparkSession,
      centT: java.nio.file.Path): Int = {
    import graft.sources.SnapStore
    val rows = SnapStore.read(s, centT).filter(col("i") === 0)
      .select(col("ccnt")).collect()
    require(rows.length == 1, s"index cursor row missing/duplicated " +
      s"(${rows.length} sentinel rows)")
    rows(0).getLong(0).toInt
  }

  /** Build (idempotently) the persisted index at `root` over
    * `source` (vec_id, label, v): the `vecs` base table plus
    * `ivf_centroids` (label, i, csum, ccnt — with the cursor
    * sentinel) and `ivf_assign` (vec_id, alabel).
    */
  private[graft] def buildIvfIndex(s: SparkSession,
      root: java.nio.file.Path, source: => DataFrame): Unit = synchronized {
    import graft.sources.SnapStore
    val vecsT = root.resolve("vecs")
    if (SnapStore.currentVersion(vecsT).isEmpty)
      SnapStore.create(s, vecsT, source, "label", keyCol = "vec_id")
    val vecsVersion = SnapStore.currentVersion(vecsT).get
    val centT = root.resolve("ivf_centroids")
    if (SnapStore.currentVersion(centT).isEmpty) {
      val dims = SnapStore.read(s, vecsT)
        .select(col("label"), posexplode(col("v")))
        .select(col("label"), (col("pos") + 1).as("i"),
          col("col").as("val"))
      SnapStore.create(s, centT,
        dims.groupBy(col("label"), col("i"))
          .agg(sum(col("val").cast(Dec38)).as("csum"),
            count(lit(1)).as("ccnt"))
          .unionByName(centSentinel(s, vecsVersion)),
        "label")
    }
    val asgT = root.resolve("ivf_assign")
    if (SnapStore.currentVersion(asgT).isEmpty)
      SnapStore.create(s, asgT,
        SnapStore.read(s, vecsT)
          .select(col("vec_id"), col("label").as("alabel")),
        "alabel", keyCol = "vec_id")
  }

  private[graft] def ensureIvfIndex(s: SparkSession,
      dir: String): java.nio.file.Path = {
    val root = idxRoot(dir)
    buildIvfIndex(s, root,
      Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")))
    root
  }

  /** Incremental re-index after appends to `vecs`: the manifest
    * incremental read serves EXACTLY the appended rows (zero old
    * files scanned), the assignment table appends them (anti-joined
    * against its own contents, so a crashed previous refresh never
    * duplicates posting-list entries), and the centroid sums merge
    * new partials with the stored 10×64 rows — an O(new data)
    * refresh whose result is bit-identical to a full rebuild (exact
    * decimal sums commute). The merged centroids and the advanced
    * cursor land in ONE overwrite snapshot (the sentinel row), so
    * any crash leaves a re-runnable state. No-op when the index is
    * current. Returns the number of newly indexed vectors.
    */
  private[graft] def refreshIvfIndex(s: SparkSession,
      root: java.nio.file.Path): Long = synchronized {
    import graft.sources.SnapStore
    val vecsT = root.resolve("vecs")
    val centT = root.resolve("ivf_centroids")
    val asgT = root.resolve("ivf_assign")
    val indexed = centCursor(s, centT)
    val current = SnapStore.currentVersion(vecsT).get
    if (current == indexed) return 0L
    val fresh = SnapStore.incrementalRead(s, vecsT,
      fromVersion = indexed, toVersion = current).cache()
    try {
      val n = fresh.count()
      if (n > 0) {
        // Idempotent posting-list append: a crashed prior refresh
        // may have appended already — only truly-new ids land.
        val newAsg = fresh
          .select(col("vec_id"), col("label").as("alabel"))
          .join(SnapStore.read(s, asgT).select(col("vec_id")),
            Seq("vec_id"), "left_anti")
        if (newAsg.limit(1).count() > 0)
          SnapStore.append(s, asgT, newAsg, "alabel")
        val partials = fresh
          .select(col("label"), posexplode(col("v")))
          .select(col("label"), (col("pos") + 1).as("i"),
            col("col").as("val"))
          .groupBy(col("label"), col("i"))
          .agg(sum(col("val").cast(Dec38)).as("csum"),
            count(lit(1)).as("ccnt"))
        val merged = SnapStore.read(s, centT).filter(col("i") >= 1)
          .unionByName(partials)
          .groupBy(col("label"), col("i"))
          .agg(sum(col("csum")).cast(Dec38).as("csum"),
            sum(col("ccnt")).as("ccnt"))
        SnapStore.overwrite(s, centT,
          merged.unionByName(centSentinel(s, current)), "label")
      } else {
        // Data-free range (e.g. a metadata-only commit): bump the
        // cursor alone — still one atomic overwrite of a tiny table.
        SnapStore.overwrite(s, centT,
          SnapStore.read(s, centT).filter(col("i") >= 1)
            .unionByName(centSentinel(s, current)), "label")
      }
      n
    } finally fresh.unpersist()
  }

  /** IVF top-5 served FROM the persisted index: centroid route reads
    * the tiny stored aggregate (csum/ccnt — the exact davg), members
    * come from the assignment posting list, and only that cluster's
    * vectors scan. Result is value-identical to [[ivfTopK]]'s
    * recompute (same decimal arithmetic, same tie order); the oracle
    * is the same recompute SQL.
    */
  def ivfTopKPersisted(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapStore
    val root = ensureIvfIndex(s, dir)
    val vecs = SnapStore.read(s, root.resolve("vecs"))
      .withColumn("norm", expr(normExpr))
    val centroids = SnapStore.read(s, root.resolve("ivf_centroids"))
      .filter(col("i") >= 1) // i = 0 is the cursor sentinel row
      .select(col("label"), col("i"),
        (col("csum").cast("double") / col("ccnt")).as("cval"))
    val cnorms = centroids.groupBy(col("label"))
      .agg(sqrt(dsum(col("cval") * col("cval"))).as("cnorm"))
    val asg = SnapStore.read(s, root.resolve("ivf_assign"))
    val q = vecs.filter(col("vec_id") < 3)
    val qdims = q.select(col("vec_id").as("q_id"), posexplode(col("v")))
      .select(col("q_id"), (col("pos") + 1).as("i"), col("col").as("qval"))
    val routed = qdims.join(broadcast(centroids), Seq("i"))
      .groupBy(col("q_id"), col("label"))
      .agg(dsum(col("qval") * col("cval")).as("dot"))
      .join(broadcast(cnorms), Seq("label"))
      .join(q.select(col("vec_id").as("q_id"), col("norm").as("q_norm")),
        Seq("q_id"))
      .withColumn("ccos", col("dot") / (col("q_norm") * col("cnorm")))
      .withColumn("crnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("ccos").desc, col("label"))))
      .filter(col("crnk") === 1)
      .select(col("q_id"), col("label").as("best_label"))
    val qv = q.select(col("vec_id").as("q_id"), col("v").as("q_v"),
      col("norm").as("q_norm"))
    // Posting list → members: the assignment table keys the cluster
    // scan, so only the routed cluster's vectors join.
    val members = asg.select(col("vec_id").as("cand_id"),
      col("alabel").as("best_label"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("cand_id"))
    broadcast(routed.join(qv, Seq("q_id")))
      .join(members, Seq("best_label"))
      .filter(col("q_id") =!= col("cand_id"))
      .join(vecs.select(col("vec_id").as("cand_id"), col("v").as("c_v"),
        col("norm").as("c_norm")), Seq("cand_id"))
      .withColumn("cosine", expr(dotExpr) / (col("q_norm") * col("c_norm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("best_label"), col("cand_id"),
        col("cosine"), col("rnk"))
      .orderBy(col("q_id"), col("rnk"))
  }

  def all: Seq[Q] = Seq(
    Q("sim_centroids", centroids, Some(centroidsOracle),
      "typed Aggregator: exact element-wise vector sums per label"),
    Q("sim_knn_int8", knnInt8, Some(knnInt8Oracle),
      "kNN-graph edges on int8 codes: exact integer dot ranking"),
    Q("sim_topk_brute", bruteForceTopK, Some(bruteForceTopKOracle),
      "broadcast queries, brute-force cosine top-10"),
    Q("sim_topk_ivf", ivfTopK, Some(ivfTopKOracle),
      "IVF: centroid routing then cluster-local top-5"),
    Q("sim_topk_ivf_persisted", ivfTopKPersisted, Some(ivfTopKOracle),
      "persisted IVF index: centroids (exact decimal sums+counts) " +
        "and posting-list assignments as SnapStore tables; queries " +
        "read the stored aggregate, append-only incremental " +
        "re-index spec-pinned"),
    Q("sim_topk_ivf_nprobe", ivfTopKProbe2, Some(ivfTopKProbe2Oracle),
      "IVF with nprobe=2: top-5 across the two nearest clusters"),
    Q("sim_topk_lsh", lshTopK, Some(lshTopKOracle),
      "LSH: 4-hyperplane sign buckets, exact-cosine rerank in-bucket"),
    Q("sim_contrastive_pairs", contrastivePairs, Some(contrastivePairsOracle),
      "anchor/positive/hard-negative triplets mined in LSH buckets"),
    Q("sim_topk_pq_adc", pqAdcTopK, Some(pqAdcTopKOracle),
      "product quantization + ADC: coded candidates scored by LUT sums, with exact-rank audit"))
}
