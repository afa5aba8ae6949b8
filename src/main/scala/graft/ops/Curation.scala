package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation operators (builder brief, round 2 extension):
  * a distributed k-means Lloyd step over the embedding column, a
  * bigram-LM fluency score, and exact length-decile curriculum
  * assignment — the clustering / fluency-filter / curriculum steps a
  * pretraining-data pipeline runs after dedup and quality scoring.
  *
  * Scale design (100 TB):
  * - The Lloyd step broadcasts k centroid codes (k rows) against one
  *   linear scan, then re-centers with a single (cid, dim) keyed agg —
  *   the canonical distributed k-means iteration; no all-pairs work.
  * - The fluency score is two keyed shuffles (global bigram counts,
  *   then an equi-join back on the bigram). The count table is skewed
  *   toward stop-bigrams; at scale the hot keys are exactly the most
  *   frequent bigrams, which AQE skew-join splits (or salt as in
  *   [[SkewJoin]]).
  * - Decile boundaries come from an aggregated token-count HISTOGRAM
  *   (bounded domain: distinct document lengths), so the only window
  *   runs over that tiny frame — never a global sort of the corpus.
  *
  * Cross-engine determinism: distances, dot products, and boundaries
  * are exact BIGINT arithmetic on micro-quantized values (`floor(x *
  * 1e6)` of identical IEEE doubles); ties break on explicit id
  * columns; integer `div` only on non-negative operands (so Spark's
  * truncation and DuckDB's `//` agree).
  */
object Curation {

  private val P = 1000000007L

  // ---------------------------------------------------------------
  /** One Lloyd iteration of k-means (k = 8, seeds = vec_id < 8) over
    * micro-quantized embeddings. Assignment minimizes the EXACT
    * integer squared L2 distance in micro² units (tie → lower cid);
    * re-centering emits per-cluster exact sum vectors folded to a
    * scalar fingerprint (the gate cannot hash array cells), member
    * count, and integer inertia. No division anywhere, so every
    * value is an exact BIGINT on both engines.
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS array<double>), " +
          "x -> CAST(floor(x * 1000000) AS BIGINT))").as("xm"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
    val assigned = e.crossJoin(broadcast(cents))
      // codegen'd native expression — the per-(vector, centroid) hot
      // path; integer sums are associative, so it equals the HOF fold.
      .withColumn("dist", expr("vec_l2sq(xm, cm)"))
      // argmin as ONE hash aggregate (min_by over the (dist, cid)
      // order key — cid is unique per candidate so the min is exact
      // and tie-free, same "lowest dist then lowest cid" rule as the
      // old row_number window) instead of a sort-based window over
      // k rows per vector: removes the per-vector sort and gets
      // map-side partial aggregation (optimization guide §2.3).
      // NON-NULL invariant (ADVICE r16): `dist` is exact BIGINT
      // arithmetic over the quantized fixture vectors, which are
      // fixed-length non-null arrays, so the min_by order key can
      // never contain a null — the struct ordering therefore agrees
      // with the window's explicit nulls-first on every input this
      // operator accepts. A null/short embedding would make dist null
      // and the two forms could diverge; keep that invariant if the
      // fixture schema ever loosens.
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cid"), col("xm"), col("dist")),
        struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.xm").as("xm"), col("best.dist").as("dist"))
    val sums = assigned
      .select(col("cid"), col("dist"), posexplode(col("xm")))
      .select(col("cid"), col("dist"), (col("pos") + 1).as("i"), col("col").as("xv"))
      .groupBy(col("cid"), col("i"))
      // each (cid, i) group holds one row per member, so sum(dist)
      // within the group is exactly the cluster inertia.
      .agg(sum(col("xv")).as("sm"), sum(col("dist")).as("dsum"),
        count(lit(1)).as("cnt"))
    sums.groupBy(col("cid"))
      .agg(max(col("cnt")).as("n"),
        max(col("dsum")).as("inertia"),
        expr(s"aggregate(array_sort(collect_list(struct(i, sm))), " +
          s"CAST(0 AS BIGINT), (a, x) -> (a * 31 + x.sm) % $P)").as("centroid_fp"))
      .select(col("cid"), col("n"), col("inertia"), col("centroid_fp"))
      .orderBy(col("cid"))
  }

  val kmeansStepOracle: String =
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS xm
       |  FROM embeddings),
       |c AS (SELECT vec_id AS cid, xm AS cm FROM e WHERE vec_id < 8),
       |scored AS (
       |  SELECT e.vec_id, c.cid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (e.xm[i] - c.cm[i]) * (e.xm[i] - c.cm[i]))) AS BIGINT) AS dist
       |  FROM e, c),
       |assigned AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT vec_id, cid, dist,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
       |    FROM scored) r
       |  WHERE rnk = 1),
       |dims AS (
       |  SELECT a.cid, a.dist, i, e.xm[i] AS xv
       |  FROM assigned a JOIN e ON a.vec_id = e.vec_id, range(1, 65) t(i)),
       |sums AS (
       |  SELECT cid, i, CAST(SUM(xv) AS BIGINT) AS sm,
       |    CAST(SUM(dist) AS BIGINT) AS dsum, COUNT(*) AS cnt
       |  FROM dims GROUP BY cid, i)
       |SELECT cid, MAX(cnt) AS n, MAX(dsum) AS inertia,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), list(sm ORDER BY i)),
       |    (a, x) -> (a * 31 + x) % $P) AS centroid_fp
       |FROM sums GROUP BY cid
       |ORDER BY cid""".stripMargin

  // ---------------------------------------------------------------
  /** Three full Lloyd iterations (assign → re-center → repeat) — the
    * iterative distributed-training loop [[kmeansStep]] is one step
    * of, driven from the driver exactly like a real k-means/EM job:
    * each round broadcasts the k re-centered centroids back against
    * one linear scan, so the per-iteration cost is a scan plus a
    * (cid, dim) keyed agg regardless of corpus size. Emits the
    * 3rd-iteration cluster stats plus a fingerprint of the
    * 3rd-re-centered centroids.
    *
    * Determinism: centroid means are integer element-wise floor
    * divisions in micro units. Spark's `div` truncates toward zero
    * while DuckDB's `//` floors, so the mean is computed on an
    * offset-shifted non-negative numerator (`+cnt*1e7`, |micro| <
    * 1e7 by the fixture's value range) where the two agree; the
    * fingerprint normalizes each element mod P before folding so
    * negative components hash identically.
    */
  def kmeansConverge(s: SparkSession, dir: String): DataFrame = {
    // Scanned once per round plus the post-loop stats pass — cache
    // the quantized frame instead of re-reading + re-transforming the
    // parquet four times (guide §5: reuse beats recompute here; the
    // frame is one array column per vector).
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(CAST(embedding AS array<double>), " +
          "x -> CAST(floor(x * 1000000) AS BIGINT))").as("xm"))
      .cache()
    var cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("xm").as("cm"))
    var lastAssigned: DataFrame = null
    for (_ <- 1 to 3) {
      // Same argmin-as-aggregate shape as kmeansStep: min_by on the
      // (dist, cid) order key replaces the sort-based row_number
      // window — one hash agg with map-side partials per round.
      val assigned = e.crossJoin(broadcast(cents))
        .withColumn("dist", expr("vec_l2sq(xm, cm)"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cid"), col("xm"), col("dist")),
          struct(col("dist"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"),
          col("best.xm").as("xm"), col("best.dist").as("dist"))
      lastAssigned = assigned
      cents = assigned
        .select(col("cid"), posexplode(col("xm")))
        .select(col("cid"), (col("pos") + 1).as("i"), col("col").as("xv"))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("xv")).as("sm"), count(lit(1)).as("cnt"))
        .withColumn("cmv", expr("((sm + cnt * 10000000) div cnt) - 10000000"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(i, cmv))), " +
          "x -> x.cmv)").as("cm"))
        // Truncate lineage each round (VERDICT r9, like
        // Graph.pageRankRanks): the centroid frame is k rows, so the
        // pin is one tiny materialization and the next round's plan
        // stays O(1) at any round count. Pin.pin makes it durable
        // under spark.graft.cc.checkpointDir like the other iterative
        // ops (VERDICT r15 #4). NO supersedes: the post-loop stats
        // frame reads lastAssigned, whose plan still references the
        // PREVIOUS round's pinned centroids. LAZY (r17, guide §1.2):
        // nothing between rounds needs the centroids materialized —
        // the final stats/fingerprint action computes the chain in
        // one job, materializing each checkpoint in passing (the
        // durable path stays eager inside Pin); the per-round eager
        // jobs were pure scheduling overhead.
        .transform(Pin.pin(_, eager = false))
    }
    val stats = lastAssigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("dist")).as("inertia"))
    val fps = cents.select(col("cid"), expr(
      s"aggregate(cm, CAST(0 AS BIGINT), " +
        s"(a, x) -> (a * 31 + ((x % $P) + $P) % $P) % $P)").as("centroid_fp"))
    stats.join(fps, Seq("cid"))
      .select(col("cid"), col("n"), col("inertia"), col("centroid_fp"))
      .orderBy(col("cid"))
  }

  /** The mirror unrolls the three iterations as generated CTE rounds —
    * one source of truth for the per-iteration text.
    */
  val kmeansConvergeOracle: String = {
    val rounds = (1 to 3).map { k =>
      s"""scored_$k AS (
         |  SELECT d.vec_id, c.cid,
         |    CAST(SUM((d.xv - c.cmv) * (d.xv - c.cmv)) AS BIGINT) AS dist
         |  FROM dims d JOIN cents_${k - 1} c ON d.i = c.i
         |  GROUP BY d.vec_id, c.cid),
         |assigned_$k AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT vec_id, cid, dist,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rnk
         |    FROM scored_$k) r WHERE rnk = 1),
         |cents_$k AS (
         |  SELECT a.cid, d.i,
         |    ((CAST(SUM(d.xv) AS BIGINT) + COUNT(*) * 10000000) // COUNT(*))
         |      - 10000000 AS cmv
         |  FROM assigned_$k a JOIN dims d ON a.vec_id = d.vec_id
         |  GROUP BY a.cid, d.i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(floor(x * 1000000) AS BIGINT)) AS xm
       |  FROM embeddings),
       |dims AS (SELECT vec_id, i, xm[i] AS xv FROM e, range(1, 65) t(i)),
       |cents_0 AS (
       |  SELECT vec_id AS cid, i, xm[i] AS cmv
       |  FROM e, range(1, 65) t(i) WHERE vec_id < 8),
       |$rounds,
       |stats AS (
       |  SELECT cid, COUNT(*) AS n, CAST(SUM(dist) AS BIGINT) AS inertia
       |  FROM assigned_3 GROUP BY cid),
       |fp AS (
       |  SELECT cid,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(((cmv % $P) + $P) % $P ORDER BY i)),
       |      (a, x) -> (a * 31 + x) % $P) AS centroid_fp
       |  FROM cents_3 GROUP BY cid)
       |SELECT s.cid, s.n, s.inertia, f.centroid_fp
       |FROM stats s JOIN fp f ON s.cid = f.cid
       |ORDER BY s.cid""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Bigram-LM fluency proxy: global bigram frequencies over the
    * corpus, then each document scored by the mean corpus frequency
    * of its own bigrams (micro-scaled integer ratio). Low scores mark
    * incoherent word salad; high scores mark boilerplate — both ends
    * are what a fluency filter cuts.
    */
  def bigramFluency(s: SparkSession, dir: String): DataFrame =
    bigramFluencyOf(Tables.documents(s, dir))

  /** Same operator over a caller-provided documents frame (needs
    * doc_id + text) — [[PipelineOps.features]] passes its cached base
    * so the composed query scans documents once (guide §5).
    */
  private[graft] def bigramFluencyOf(docs: DataFrame): DataFrame = {
    val bg = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("bg"))
    val docBg = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
    // Global counts fold the per-doc aggregate (Σ per-doc c == corpus
    // count): the second aggregate runs over the already-reduced
    // frame, and its input subtree is byte-identical to docBg's, so
    // exchange reuse shares ONE scan+explode instead of re-exploding
    // the corpus for the global count (guide §2.3/§2.4). The join
    // back on bg keeps the AQE-skew-splittable shape.
    val global = docBg.groupBy(col("bg")).agg(sum(col("c")).as("gc"))
    // Overflow safety at corpus scale: each c*gc term and their sum
    // accumulate in DECIMAL(38,0) (exact to 1e38, mirrored by the
    // oracle's HUGEINT), not BIGINT — at ~1e13 corpus bigrams a stop
    // bigram's gc alone nears 1e13 and the old BIGINT mass wrapped
    // silently in Spark while DuckDB errored. The BIGINT result is
    // in range while mean gc < 9.2e12 (i.e. corpus bigram count below
    // ~9e12, ≈50 TB of text); past that Spark yields NULL and DuckDB
    // errors — visible in both engines, never silently wrong.
    docBg.join(global, Seq("bg"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bg"),
        sum(col("c").cast(DecimalType(19, 0)) * col("gc")).as("mass"))
      .select(col("doc_id"), col("n_bg"),
        expr("(mass * 1000000) div n_bg").as("fluency_micro"))
      .orderBy(col("doc_id"))
  }

  val bigramFluencyOracle: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1])) AS bg
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |doc_bg AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
      |global AS (SELECT bg, COUNT(*) AS gc FROM bg GROUP BY bg)
      |SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_bg,
      |  CAST((SUM(CAST(d.c AS HUGEINT) * g.gc) * 1000000) // SUM(d.c) AS BIGINT) AS fluency_micro
      |FROM doc_bg d JOIN global g ON d.bg = g.bg
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Exact length-decile curriculum: decile boundaries are derived
    * from the aggregated token-count histogram (cumulative counts over
    * the tiny distinct-length frame), every document joins its
    * length's decile, and per-decile statistics come out of one keyed
    * agg. Documents of equal length always share a decile —
    * reproducible under any partitioning, unlike `ntile` over a
    * global sort.
    */
  def lengthDeciles(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tok"))
    val hist = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // The histogram is bounded by the distinct document lengths (a few
    // hundred values at any corpus size), so the unpartitioned window
    // frame stays tiny — boundaries, not documents, get sorted.
    val wc = Window.orderBy(col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deciled = hist
      .withColumn("cum_le", sum(col("c")).over(wc))
      .crossJoin(broadcast(toks.agg(count(lit(1)).as("n_total"))))
      .select(col("tok"),
        expr("((cum_le - c) * 10) div n_total").as("decile"))
    toks.join(broadcast(deciled), Seq("tok"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("docs"), min(col("tok")).as("min_tok"),
        max(col("tok")).as("max_tok"), sum(col("tok")).as("tok_sum"))
      .orderBy(col("decile"))
  }

  val lengthDecilesOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents),
      |hist AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
      |cum AS (
      |  SELECT tok, c, SUM(c) OVER (ORDER BY tok
      |    ROWS UNBOUNDED PRECEDING) AS cum_le
      |  FROM hist),
      |dec AS (
      |  SELECT tok,
      |    ((cum_le - c) * 10) // (SELECT COUNT(*) FROM toks) AS decile
      |  FROM cum)
      |SELECT CAST(d.decile AS BIGINT) AS decile, COUNT(*) AS docs,
      |  CAST(MIN(t.tok) AS BIGINT) AS min_tok,
      |  CAST(MAX(t.tok) AS BIGINT) AS max_tok,
      |  CAST(SUM(t.tok) AS BIGINT) AS tok_sum
      |FROM toks t JOIN dec d ON t.tok = d.tok
      |GROUP BY d.decile
      |ORDER BY decile""".stripMargin

  // ---------------------------------------------------------------
  /** Word-rarity signals (the IDF family without floats): per word,
    * its document frequency; per document, the rarest word's DF, the
    * count of corpus-hapax words (DF = 1 — OCR junk / codes), and the
    * mean DF of its distinct words in micro units. Two keyed
    * shuffles: distinct (doc, word) pairs → DF, then a join back on
    * the word. The DF table's hot keys are exactly the stopwords;
    * at scale AQE's skew-join split (or the [[SkewJoin]] salting
    * pattern) bounds them.
    */
  def wordRarity(s: SparkSession, dir: String): DataFrame =
    wordRarityOf(Tables.documents(s, dir))

  /** Same operator over a caller-provided documents frame (needs
    * doc_id + text) — see [[bigramFluencyOf]].
    */
  private[graft] def wordRarityOf(docs: DataFrame): DataFrame = {
    val docWords = docs
      .select(col("doc_id"),
        explode(expr("array_distinct(split(text, ' '))")).as("word"))
    val df = docWords.groupBy(col("word"))
      .agg(count(lit(1)).as("wdf"))
    docWords.join(df, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        min(col("wdf")).as("min_df"),
        sum(when(col("wdf") === 1L, 1L).otherwise(0L)).as("hapax"),
        // DECIMAL(38,0) mass for the same overflow contract as
        // bigramFluency: exact to 1e38 in both engines, BIGINT-range
        // result while mean DF < 9.2e12 documents.
        sum(col("wdf").cast(DecimalType(19, 0))).as("df_mass"))
      .select(col("doc_id"), col("n_distinct"), col("min_df"), col("hapax"),
        expr("(df_mass * 1000000) div n_distinct").as("mean_df_micro"))
      .orderBy(col("doc_id"))
  }

  val wordRarityOracle: String =
    """WITH dw AS (
      |  SELECT DISTINCT doc_id, word
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |        FROM documents) x),
      |df AS (SELECT word, COUNT(*) AS wdf FROM dw GROUP BY word)
      |SELECT dw.doc_id, COUNT(*) AS n_distinct,
      |  CAST(MIN(df.wdf) AS BIGINT) AS min_df,
      |  CAST(SUM(CASE WHEN df.wdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      |  CAST((SUM(CAST(df.wdf AS HUGEINT)) * 1000000) // COUNT(*) AS BIGINT) AS mean_df_micro
      |FROM dw JOIN df ON dw.word = df.word
      |GROUP BY dw.doc_id
      |ORDER BY dw.doc_id""".stripMargin

  // ---------------------------------------------------------------
  def all: Seq[Q] = Seq(
    Q("pipe_kmeans_step", kmeansStep, Some(kmeansStepOracle),
      "distributed Lloyd iteration: broadcast centroids, exact integer re-center"),
    Q("pipe_kmeans_converge", kmeansConverge, Some(kmeansConvergeOracle),
      "three Lloyd iterations driver-looped, broadcast re-centers"),
    Q("pipe_bigram_fluency", bigramFluency, Some(bigramFluencyOracle),
      "bigram-LM fluency proxy: mean corpus bigram frequency per doc"),
    Q("pipe_length_deciles", lengthDeciles, Some(lengthDecilesOracle),
      "exact histogram-derived length deciles (curriculum assignment)"),
    Q("pipe_word_rarity", wordRarity, Some(wordRarityOracle),
      "per-doc rarity: min document frequency, hapax count, mean DF"))
}
