package graft.ops

import graft.{Q, Tables}
import graft.Cols._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`/`embeddings` — the
  * training-data-pipeline extensions (builder brief): exact
  * hash-group dedup, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB): no operator here enumerates pair spaces at
  * all. Every near-dup variant generates candidates as
  * bucket-REPRESENTATIVE links — per blocking key (MinHash LSH band
  * signatures, 16-bit SimHash bands, (lang, source, min-hash) blocks,
  * per-label hyperplane sign buckets) each row links only to the
  * bucket's min-id representative, so candidates are O(n·bands)
  * regardless of bucket skew, the shuffle is keyed, joins stay hash
  * joins, and nothing collects to the driver. Signatures are exploded
  * codegen'd aggregates over the native `fold_hash` char hash
  * ([[graft.functions.FoldHash]]), not interpreted lambda folds.
  *
  * Cross-engine determinism: all signature arithmetic is integer;
  * jaccard and cosine are single IEEE expressions over identical fold
  * orders.
  */
object Dedup {

  // ---------------------------------------------------------------
  /** Exact dedup = hash groupBy on the full text (per source). At
    * scale this is one shuffle on a 64-bit text hash, not the text
    * itself; here counts suffice.
    */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("text")).as("distinct_docs"),
        (count(lit(1)) - countDistinct(col("text"))).as("dups"))
      .orderBy(col("source"))

  val exactOracle: String =
    """SELECT source, COUNT(*) AS docs, COUNT(DISTINCT text) AS distinct_docs,
      |  COUNT(*) - COUNT(DISTINCT text) AS dups
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  /** N-gram (unigram-shingle) Jaccard near-dup, scale-safe: blocking
    * key = (lang, source, MIN word hash) — single-permutation
    * MinHash, which two J ≥ 0.8 documents share with probability ≥
    * 0.8 — then each document links only to its block REPRESENTATIVE
    * (min doc_id), annotated with the exact Jaccard over the hashed
    * shingle sets and thresholded at 0.8.
    *
    * Scale design: blocking cardinality grows with the vocabulary
    * (O(n) blocks), and representative linking caps candidates at one
    * per document regardless of block size — no all-pairs join over a
    * fixed-cardinality key anywhere. Like [[minhashLsh]], the output
    * is the candidate edge list a downstream union-find consumes.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // Per-row native signature (r17, guide §8/§2.4): the old
    // explode→fold_hash→groupBy(doc_id) round-trip shuffled one row
    // per WORD to reassemble per-document values; minhash_sig computes
    // the identical sorted hash set in one fused loop per document, so
    // the signature stage carries NO exchange (WordSigsSpec pins
    // equality). minh = min(h) is the sorted set's first element. The
    // isNotNull filter mirrors explode's drop of null word arrays.
    // Referenced four times; cached for the same reason as
    // [[minhashLsh]]'s sigs — the exchange AQE used to reuse is gone.
    val sets = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), col("lang"), col("source"),
        expr("minhash_sig(ws)").as("sig"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("sig.hs").as("hs"), element_at(col("sig.hs"), 1).as("minh"))
      .cache()
    val reps = sets.groupBy(col("lang"), col("source"), col("minh"))
      .agg(min(col("doc_id")).as("a_id"), count(lit(1)).as("block_n"))
      .filter(col("block_n") > 1)
    val hs = sets.select(col("doc_id"), col("hs"))
    sets.join(reps, Seq("lang", "source", "minh"))
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("a_id"), col("doc_id").as("b_id"), col("lang"), col("source"))
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("jacc",
        size(array_intersect(col("a_hs"), col("b_hs"))) /
          size(array_union(col("a_hs"), col("b_hs"))))
      .filter(col("jacc") >= 0.8)
      .select(col("a_id"), col("b_id"), col("lang"), col("source"), col("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val ngramJaccardOracle: String = {
    val wordHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 1000000007)"
    s"""WITH words AS (
       |  SELECT doc_id, lang, source,
       |    unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, lang, source, $wordHash AS h FROM words),
       |sets AS (
       |  SELECT doc_id, lang, source, list(DISTINCT h) AS hs, MIN(h) AS minh
       |  FROM hashed GROUP BY doc_id, lang, source),
       |reps AS (
       |  SELECT lang, source, minh, MIN(doc_id) AS a_id, COUNT(*) AS block_n
       |  FROM sets GROUP BY lang, source, minh HAVING COUNT(*) > 1),
       |links AS (
       |  SELECT r.a_id, s.doc_id AS b_id, s.lang, s.source
       |  FROM sets s, reps r
       |  WHERE s.lang = r.lang AND s.source = r.source AND s.minh = r.minh
       |    AND s.doc_id <> r.a_id)
       |SELECT l.a_id, l.b_id, l.lang, l.source,
       |  len(list_intersect(sa.hs, sb.hs)) /
       |    len(list_distinct(list_concat(sa.hs, sb.hs))) AS jacc
       |FROM links l, sets sa, sets sb
       |WHERE sa.doc_id = l.a_id AND sb.doc_id = l.b_id
       |  AND len(list_intersect(sa.hs, sb.hs)) /
       |    len(list_distinct(list_concat(sa.hs, sb.hs))) >= 0.8
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** MinHash + LSH: 12 minhash values from affine permutations of the
    * word char-fold hash, banded 2 × 6; candidate pairs are documents
    * sharing any band signature (a hash join on the band key — the
    * LSH scale path), each link annotated with its exact Jaccard over
    * the hashed shingle sets. No threshold is applied here: the
    * output is the cluster-link edge list a downstream union-find
    * dedup consumes, thresholding per use-case.
    *
    * Shape note: the signature is computed by EXPLODING the word set
    * and taking 12 codegen'd `min()` aggregates — a vectorized
    * hash-aggregate that scales linearly — rather than nested
    * higher-order-function folds, which run interpreted and were ~10×
    * slower at sf0.1. Jaccard verification compares bigint hash sets
    * (collisions are deterministic and shared with the oracle).
    *
    * Candidate generation links each doc to its BUCKET REPRESENTATIVE
    * (min doc_id per band signature) rather than all-pairs within the
    * bucket: every duplicate is still discovered (it shares a bucket
    * with its cluster's representative), but candidates are O(n·bands)
    * instead of O(Σ bucket²) — on this corpus all-pairs emits 2.5M+
    * pairs at sf0.1 and would be quadratic at 100 TB.
    */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // Per-row native signature (r17, guide §8/§2.4): the old
    // explode→fold_hash→12-min+collect_set groupBy(doc_id) shuffled
    // one row per WORD to reassemble per-document signatures that
    // depend only on the row's own words — at warehouse scale the
    // word-level exchange was the dedup pipeline's biggest shuffle.
    // minhash_sig computes the identical hs set + 12 permutation mins
    // in one fused loop per document row: the signature stage now
    // carries NO exchange (WordSigsSpec pins equality; the isNotNull
    // filter mirrors explode's drop of null word arrays). Referenced
    // three times (band explode + both verify sides) — with the old
    // exchange gone there is no AQE reuse point left, so the narrow
    // (doc_id, hs, m1..m12) frame is cached instead; the r16
    // cache-was-a-loss measurement predated this shape (then, reuse
    // was free and the cache only added materialization).
    val sigs = Tables.documents(s, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), expr("minhash_sig(ws)").as("sig"))
      .select(col("doc_id") +: col("sig.hs").as("hs") +:
        (1 to 12).map(k => col("sig.mins")(k - 1).as(s"m$k")): _*)
      .cache()
    val bands = sigs.select(col("doc_id"),
        explode(expr("array(" +
          "named_struct('band', 1, 'sig', concat_ws('_', CAST(m1 AS STRING), " +
          "CAST(m2 AS STRING), CAST(m3 AS STRING), CAST(m4 AS STRING), " +
          "CAST(m5 AS STRING), CAST(m6 AS STRING))), " +
          "named_struct('band', 2, 'sig', concat_ws('_', CAST(m7 AS STRING), " +
          "CAST(m8 AS STRING), CAST(m9 AS STRING), CAST(m10 AS STRING), " +
          "CAST(m11 AS STRING), CAST(m12 AS STRING))))"))
          .as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val reps = bands.groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("a_id"), count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > 1)
    val cand = bands.join(reps, Seq("band", "sig"))
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("a_id"), col("doc_id").as("b_id")).distinct()
    val hs = sigs.select(col("doc_id"), col("hs"))
    cand
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("jacc",
        size(array_intersect(col("a_hs"), col("b_hs"))) /
          size(array_union(col("a_hs"), col("b_hs"))))
      .select(col("a_id"), col("b_id"), col("jacc"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val minhashLshOracle: String = minhashLinksSql + "\nORDER BY a_id, b_id"

  // ---------------------------------------------------------------
  /** LSH band-tuning sweep: the SAME 12 minhash values banded four
    * ways — (2×6), (3×4), (4×3), (6×2) — emitting per configuration
    * the candidate-link volume and how many candidates confirm at
    * J ≥ 0.8. This is THE tuning table for a dedup rollout: more
    * bands with fewer rows per band → higher recall, more candidate
    * volume to verify (cost); the sweep makes the tradeoff a query
    * instead of a rerun-per-setting. The signature frame is computed
    * once and cached; each configuration is one keyed agg + one
    * representative-link join, O(n·bands) like the production path.
    * (On the synthetic fixture the curve is nearly flat — its small
    * shared vocabulary saturates the buckets at every setting; on a
    * real crawl the candidate column is what moves.)
    */
  def bandSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Same per-row native signature as [[minhashLsh]] (r17): no
    // word-level exchange; the cache still pays for itself here — the
    // sweep's four configurations drive three separate consumers over
    // the 15-rows/doc exploded frame.
    val sigs = Tables.documents(s, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), expr("minhash_sig(ws)").as("sig"))
      .select(col("doc_id") +: col("sig.hs").as("hs") +:
        (1 to 12).map(k => col("sig.mins")(k - 1).as(s"m$k")): _*)
      .cache()
    val hs = sigs.select(col("doc_id"), col("hs"))
    // All four configurations ride ONE exploded frame keyed by a cfg
    // column (the band count — unique per configuration), so the
    // sweep is a single rep-agg + candidate join + verify pass over
    // 15 rows/doc instead of four separate 2-6-row passes: same total
    // exploded volume, one quarter the stages/shuffles (optimization
    // guide §2.4 — share one exchange across same-keyed work). The
    // left join against the literal config list keeps the contract
    // that a configuration with zero candidates still emits its row.
    val configs = Seq((2, 6), (3, 4), (4, 3), (6, 2))
    val bandStructs = configs.flatMap { case (nb, r) =>
      (1 to nb).map { i =>
        val cs = ((i - 1) * r + 1 to i * r)
          .map(k => s"CAST(m$k AS STRING)").mkString(", ")
        s"named_struct('cfg', $nb, 'band', $i, 'sig', concat_ws('_', $cs))"
      }
    }.mkString(", ")
    val bands = sigs
      .select(col("doc_id"), explode(expr(s"array($bandStructs)")).as("bs"))
      .select(col("doc_id"), col("bs.cfg").as("cfg"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val reps = bands.groupBy(col("cfg"), col("band"), col("sig"))
      .agg(min(col("doc_id")).as("a_id"), count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > 1)
    val verified = bands.join(reps, Seq("cfg", "band", "sig"))
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("cfg"), col("a_id"), col("doc_id").as("b_id")).distinct()
      .join(hs.select(col("doc_id").as("a_id"), col("hs").as("a_hs")), Seq("a_id"))
      .join(hs.select(col("doc_id").as("b_id"), col("hs").as("b_hs")), Seq("b_id"))
      .withColumn("jacc",
        size(array_intersect(col("a_hs"), col("b_hs"))) /
          size(array_union(col("a_hs"), col("b_hs"))))
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("cand_n"),
        sum(when(col("jacc") >= 0.8, 1L).otherwise(0L)).as("conf_n"))
    configs.toDF("bands", "rows_per_band")
      .join(verified, col("bands") === col("cfg"), "left")
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("cand_n"), lit(0L)).as("candidates"),
        coalesce(col("conf_n"), lit(0L)).as("confirmed"))
      .orderBy(col("bands"))
  }

  val bandSweepOracle: String = {
    val P = "1000000007"
    val wordHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $P)"
    val mins = (1 to 12)
      .map(k => s"min((${2 * k + 1} * h + ${7919 * k}) % $P) AS m$k")
      .mkString(", ")
    def config(nb: Int, r: Int): String = {
      val bandSelects = (1 to nb).map { i =>
        val sig = ((i - 1) * r + 1 to i * r)
          .map(k => s"CAST(m$k AS VARCHAR)").mkString(" || '_' || ")
        s"SELECT doc_id, $i AS band, $sig AS sig FROM sigs"
      }.mkString("\n  UNION ALL\n  ")
      s"""SELECT $nb AS bands, $r AS rows_per_band,
         |  COUNT(*) AS candidates,
         |  CAST(coalesce(SUM(CASE WHEN
         |    len(list_intersect(da.hs, db.hs)) /
         |      len(list_distinct(list_concat(da.hs, db.hs))) >= 0.8
         |    THEN 1 ELSE 0 END), 0) AS BIGINT) AS confirmed
         |FROM (
         |  SELECT DISTINCT r.a_id, b.doc_id AS b_id
         |  FROM ($bandSelects) b
         |  JOIN (
         |    SELECT band, sig, MIN(doc_id) AS a_id
         |    FROM ($bandSelects) g
         |    GROUP BY band, sig HAVING COUNT(*) > 1) r
         |    ON b.band = r.band AND b.sig = r.sig AND b.doc_id <> r.a_id
         |) cand, sigs da, sigs db
         |WHERE da.doc_id = cand.a_id AND db.doc_id = cand.b_id""".stripMargin
    }
    s"""WITH words AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, $wordHash AS h FROM words),
       |sigs AS (
       |  SELECT doc_id, list(DISTINCT h) AS hs, $mins
       |  FROM hashed GROUP BY doc_id)
       |${Seq((2, 6), (3, 4), (4, 3), (6, 2)).map { case (nb, r) => config(nb, r) }
        .mkString("", "\nUNION ALL\n", "")}
       |ORDER BY bands""".stripMargin
  }

  /** The MinHash-LSH link query without its final ORDER BY, shared by
    * [[minhashLshOracle]] and (as a CTE body) [[clustersOracle]].
    */
  private lazy val minhashLinksSql: String = {
    val P = "1000000007"
    val wordHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $P)"
    val mins = (1 to 12)
      .map(k => s"min((${2 * k + 1} * h + ${7919 * k}) % $P) AS m$k")
      .mkString(",\n       |    ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, $wordHash AS h FROM words),
       |sigs AS (
       |  SELECT doc_id, list(DISTINCT h) AS hs,
       |    $mins
       |  FROM hashed GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 1 AS band,
       |    CAST(m1 AS VARCHAR) || '_' || CAST(m2 AS VARCHAR) || '_' ||
       |    CAST(m3 AS VARCHAR) || '_' || CAST(m4 AS VARCHAR) || '_' ||
       |    CAST(m5 AS VARCHAR) || '_' || CAST(m6 AS VARCHAR) AS sig
       |  FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 2 AS band,
       |    CAST(m7 AS VARCHAR) || '_' || CAST(m8 AS VARCHAR) || '_' ||
       |    CAST(m9 AS VARCHAR) || '_' || CAST(m10 AS VARCHAR) || '_' ||
       |    CAST(m11 AS VARCHAR) || '_' || CAST(m12 AS VARCHAR) AS sig
       |  FROM sigs),
       |reps AS (
       |  SELECT band, sig, MIN(doc_id) AS a_id, COUNT(*) AS bucket_n
       |  FROM bands GROUP BY band, sig HAVING COUNT(*) > 1),
       |cand AS (
       |  SELECT DISTINCT r.a_id, b.doc_id AS b_id
       |  FROM bands b, reps r
       |  WHERE b.band = r.band AND b.sig = r.sig AND b.doc_id <> r.a_id)
       |SELECT a_id, b_id,
       |  len(list_intersect(da.hs, db.hs)) /
       |    len(list_distinct(list_concat(da.hs, db.hs))) AS jacc
       |FROM cand, sigs da, sigs db
       |WHERE da.doc_id = a_id AND db.doc_id = b_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** SimHash: 64-bit signature carried as two 32-bit halves — per
    * bit, majority vote of word hashes' bit values. The halves come
    * from two independent sub-2^32 modulus folds, so every
    * intermediate fits a BIGINT in both engines (Java wraps 64-bit
    * overflow silently, DuckDB raises — a packed 64-bit signature
    * could not be computed identically).
    *
    * Scale path (100 TB): candidates share one of FOUR 16-BIT bands
    * (65,536 buckets per band — pigeonhole still guarantees every
    * hamming ≤ 3 pair shares a band), and each document links only to
    * its bucket REPRESENTATIVE (min doc_id), not all-pairs: candidate
    * count is O(n·bands) while every near-dup cluster is still
    * discovered through its representative. Verification is
    * bit_count over both halves; output is the hamming histogram of
    * representative links.
    */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    // Per-row native signature (r17, guide §8/§2.4): the old shape
    // exploded the word array and ran 64 ±1-vote sum aggregates
    // through a groupBy(doc_id) exchange; simhash_sig computes the
    // identical majority-vote halves in one fused loop per document
    // row — no word-level shuffle, no 64-column aggregate
    // (WordSigsSpec pins equality). Still referenced three times
    // (band explode + both hamming sides) but no longer cached: the
    // rebuild is a narrow scan + one native call per row.
    val sigs = Tables.documents(s, dir)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), expr("simhash_sig(ws)").as("sig"))
      .select(col("doc_id"), col("sig.sim_lo").as("sim_lo"),
        col("sig.sim_hi").as("sim_hi"))
    val bands = sigs.select(col("doc_id"),
        explode(expr("array(" +
          "named_struct('band', 0, 'key', sim_lo & 65535), " +
          "named_struct('band', 1, 'key', shiftright(sim_lo, 16) & 65535), " +
          "named_struct('band', 2, 'key', sim_hi & 65535), " +
          "named_struct('band', 3, 'key', shiftright(sim_hi, 16) & 65535))")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val reps = bands.groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("a_id"), count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > 1)
    val links = bands.join(reps, Seq("band", "key"))
      .filter(col("doc_id") =!= col("a_id"))
      .select(col("a_id"), col("doc_id").as("b_id")).distinct()
    links
      .join(sigs.select(col("doc_id").as("a_id"), col("sim_lo").as("a_lo"),
        col("sim_hi").as("a_hi")), Seq("a_id"))
      .join(sigs.select(col("doc_id").as("b_id"), col("sim_lo").as("b_lo"),
        col("sim_hi").as("b_hi")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (expr("bit_count(a_lo ^ b_lo)") + expr("bit_count(a_hi ^ b_hi)"))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("pairs"))
      .orderBy(col("hamming"))
  }

  val simhashOracle: String = {
    val wordHash1 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(a, b) -> (a * 31 + b) % 4294967291)"
    val wordHash2 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      "(a, b) -> (a * 37 + b + 17) % 4294967279)"
    val votes = ((0 to 31)
      .map(j => s"SUM(CASE WHEN ((h1 >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS a$j") ++
      (0 to 31)
        .map(j => s"SUM(CASE WHEN ((h2 >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS b$j"))
      .mkString(",\n       |    ")
    def half(prefix: String) = (0 to 31)
      .map(j => s"(CASE WHEN $prefix$j >= 0 THEN (CAST(1 AS BIGINT) << $j) " +
        "ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
       |  FROM documents),
       |hashed AS (
       |  SELECT doc_id, $wordHash1 AS h1, $wordHash2 AS h2 FROM words),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hashed GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, ${half("a")} AS sim_lo, ${half("b")} AS sim_hi
       |  FROM votes),
       |bands AS (
       |  SELECT doc_id, 0 AS band, sim_lo & 65535 AS key FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, (sim_lo >> 16) & 65535 AS key FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 2 AS band, sim_hi & 65535 AS key FROM sigs
       |  UNION ALL
       |  SELECT doc_id, 3 AS band, (sim_hi >> 16) & 65535 AS key FROM sigs),
       |reps AS (
       |  SELECT band, key, MIN(doc_id) AS a_id, COUNT(*) AS bucket_n
       |  FROM bands GROUP BY band, key HAVING COUNT(*) > 1),
       |links AS (
       |  SELECT DISTINCT r.a_id, b.doc_id AS b_id
       |  FROM bands b, reps r
       |  WHERE b.band = r.band AND b.key = r.key AND b.doc_id <> r.a_id),
       |verified AS (
       |  SELECT l.a_id, l.b_id,
       |    CAST(bit_count(xor(sa.sim_lo, sb.sim_lo))
       |      + bit_count(xor(sa.sim_hi, sb.sim_hi)) AS BIGINT) AS hamming
       |  FROM links l, sigs sa, sigs sb
       |  WHERE sa.doc_id = l.a_id AND sb.doc_id = l.b_id)
       |SELECT hamming, COUNT(*) AS pairs
       |FROM verified
       |WHERE hamming <= 3
       |GROUP BY hamming
       |ORDER BY hamming""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Embedding-cosine near-dup, scale-safe: random-hyperplane LSH
    * sub-buckets within each `label` cluster — 6 deterministic ±1
    * hyperplanes (Knuth-multiplier pattern, mirrored in the oracle)
    * give a (label, 64-way sign bucket) key — then each vector links
    * only to its bucket REPRESENTATIVE and the link is verified with
    * the exact cosine at ≥ 0.25.
    *
    * Scale design: bucket count grows with labels × 2^bits (both
    * tunable), and representative linking caps candidates at one per
    * vector regardless of bucket size — the all-pairs within-label
    * join (quadratic in cluster size) is gone. Dot products are
    * index-ordered folds; signs are exact double comparisons, so both
    * engines bucket identically.
    */
  def embeddingCosine(s: SparkSession, dir: String): DataFrame = {
    // Hyperplane k (0..5), dim i (1..64): +1 iff (i * (3+2k) * 2654435761) % 97 < 48.
    def planeDot(k: Int): String =
      s"aggregate(transform(sequence(1, 64), i -> element_at(v, i) * " +
        s"(CASE WHEN pmod(i * ${3 + 2 * k} * 2654435761, 97) < 48 " +
        s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)), " +
        "CAST(0 AS DOUBLE), (a, x) -> a + x)"
    val bucketExpr = (0 to 5)
      .map(k => s"(CASE WHEN ${planeDot(k)} >= 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")
    // Referenced three times (reps + both link sides); the bucket
    // column re-evaluates six 64-dim hyperplane folds per row per
    // rebuild — cache the scored frame once (guide §5).
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", expr("sqrt(vec_dot(v, v))"))
      .withColumn("bucket", expr(bucketExpr))
      .cache()
    val reps = e.groupBy(col("label"), col("bucket"))
      .agg(min(col("vec_id")).as("a_id"), count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > 1)
    val sides = e.select(col("vec_id"), col("label"), col("bucket"),
      col("v"), col("norm"))
    sides.join(reps, Seq("label", "bucket"))
      .filter(col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id").as("b_id"), col("label"),
        col("v").as("b_v"), col("norm").as("b_norm"))
      .join(sides.select(col("vec_id").as("a_id"), col("v").as("a_v"),
        col("norm").as("a_norm")), Seq("a_id"))
      .withColumn("cosine", expr("vec_dot(a_v, b_v)") / (col("a_norm") * col("b_norm")))
      .filter(col("cosine") >= 0.25)
      .select(col("a_id"), col("b_id"), col("label"), col("cosine"))
      .orderBy(col("a_id"), col("b_id"))
  }

  val embeddingCosineOracle: String = {
    val norm = "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(v, x -> x * x)), (a, x) -> a + x))"
    def planeDot(k: Int): String =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 65), i -> v[i] * " +
        s"(CASE WHEN (i * ${3 + 2 * k} * 2654435761) % 97 < 48 " +
        s"THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END))), (a, x) -> a + x)"
    val bucketExpr = (0 to 5)
      .map(k => s"(CASE WHEN ${planeDot(k)} >= 0 THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")
    val dot = "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      "list_transform(range(1, 65), i -> sa.v[i] * sb.v[i])), (x, y) -> x + y)"
    s"""WITH e AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, label, v, $norm AS norm, $bucketExpr AS bucket
       |  FROM e),
       |reps AS (
       |  SELECT label, bucket, MIN(vec_id) AS a_id, COUNT(*) AS bucket_n
       |  FROM n GROUP BY label, bucket HAVING COUNT(*) > 1),
       |links AS (
       |  SELECT r.a_id, s.vec_id AS b_id, s.label
       |  FROM n s, reps r
       |  WHERE s.label = r.label AND s.bucket = r.bucket AND s.vec_id <> r.a_id)
       |SELECT l.a_id, l.b_id, l.label, $dot / (sa.norm * sb.norm) AS cosine
       |FROM links l, n sa, n sb
       |WHERE sa.vec_id = l.a_id AND sb.vec_id = l.b_id
       |  AND $dot / (sa.norm * sb.norm) >= 0.25
       |ORDER BY a_id, b_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Connected components over the MinHash-LSH near-dup links
    * (J ≥ 0.8) — the downstream half of near-dup dedup: candidate
    * LINKS become duplicate CLUSTERS, from which a pipeline keeps one
    * representative per cluster.
    *
    * Algorithm: distributed min-label propagation. Labels start as
    * each doc's own id; each round every node takes the min of its
    * label and its neighbors' labels; converged when no label
    * changes. Each round is one keyed shuffle (edges ⋈ labels →
    * groupBy(dst).min), rounds are bounded by the component diameter
    * — on representative-link graphs that is small (stars chained
    * through shared docs across bands), and at 100 TB this is the
    * standard alternating large/small-star CC pattern. The per-round
    * checkpoint truncates lineage so the plan doesn't grow with
    * iterations; by default it is `localCheckpoint` (executor
    * memory/disk — fine in local mode), and setting
    * `spark.graft.cc.checkpointDir` switches every round to a durable
    * `checkpoint` into that directory, which is what a 1000-executor
    * run wants: labels survive executor loss and the blocks don't pin
    * executor storage memory across tens of rounds. The driver loop
    * iterates over DISTRIBUTED rounds; only the 1-row changed-count
    * is ever collected.
    */
  def clusters(s: SparkSession, dir: String): DataFrame = {
    val links = minhashLsh(s, dir).filter(col("jacc") >= 0.8)
      .select(col("a_id"), col("b_id"))
    val edges = links
      .union(links.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").distinct().cache()
    // Pin.pin: durable under spark.graft.cc.checkpointDir (one
    // checkpoint ROOT per context — the old per-call setCheckpointDir
    // here leaked a fresh UUID dir per run, review r15 #5), and each
    // round supersedes the previous one so tens of label rounds keep
    // ONE durable payload alive, not fifty (ADVICE r15 #3). The
    // changed-count action below runs against the ALREADY-pinned
    // step, so nothing reads the superseded round after its delete.
    //
    // Only edge-incident nodes iterate (optimization guide §2.3 —
    // shuffle fewer bytes): a document with no LSH link keeps
    // lbl = doc_id through every round and influences nobody, so the
    // per-round join/agg/pin runs over the edge-node subset (the
    // symmetric edge set's dst side covers every endpoint) and the
    // singleton majority rejoins once at the end. At 100 TB near-dup
    // corpora the linked subset is a small fraction of documents.
    // Lazy pins (r17, guide §1.2 "fewer passes"): an eager pin is its
    // own Spark job, so each round used to pay TWO jobs — materialize
    // the pin, then count the changes. A lazy local checkpoint is
    // materialized BY the changed-count action, so every round is one
    // job; the durable-checkpoint path (cluster recovery) stays eager
    // inside Pin. The count reads the checkpoint-backed plan, so
    // lineage is truncated exactly as before.
    //
    // Round 1 is FUSED into the seed (r17, guide §2.4): against the
    // identity seed (lbl = node) the round's edges ⋈ labels join is a
    // no-op — each edge's src label IS src — so round 1 reduces to
    // one keyed aggregate, min(src) per dst, with no join at all.
    // Its convergence check was vacuous too: a nonempty symmetric
    // self-loop-free edge set always relabels max(src, dst) of some
    // edge in round 1 (so the loop always continued), and an empty
    // edge set makes the node frame empty (so the first in-loop count
    // returns 0 and exits exactly as before). Labels after this seed
    // are bit-identical to the old post-round-1 frame; the loop below
    // is unchanged from round 2 on. One fewer shuffle join and one
    // fewer count job per run — and at warehouse scale the removed
    // join carried the full label set.
    var labels = Pin.pin(
      edges.groupBy(col("dst").as("node")).agg(min(col("src")).as("nlbl"))
        .select(col("node"), least(col("node"), col("nlbl")).as("lbl")),
      eager = false)
    var changed = 1L
    var rounds = 1
    while (changed > 0 && rounds < 50) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min(col("lbl")).as("nlbl"))
      val step = Pin.pin(labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("lbl").as("old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl")),
        eager = false, supersedes = Some(labels))
      changed = step.filter(col("lbl") < col("old")).count()
      labels = step.select(col("node"), col("lbl"))
      rounds += 1
    }
    edges.unpersist()
    val full = Tables.documents(s, dir).select(col("doc_id").as("node"))
      .join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("lbl"))
    val sizes = full.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    full.join(sizes, Seq("lbl"))
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB mirror: the link CTE is [[minhashLinksSql]] verbatim; the
    * component min-label is a recursive label walk over the symmetric
    * edge set (UNION dedups, so it terminates at the closure).
    */
  val clustersOracle: String =
    s"""WITH RECURSIVE links AS ($minhashLinksSql),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM links WHERE jacc >= 0.8
       |  UNION
       |  SELECT b_id, a_id FROM links WHERE jacc >= 0.8),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |         FROM walk GROUP BY node)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c
       |JOIN (SELECT cluster_id, count(*) AS cluster_size
       |      FROM comp GROUP BY cluster_id) s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** The dedup pipeline's last step: keep ONE document per near-dup
    * cluster — the highest [[TextAnalysis.quality]] score, doc_id as
    * the tiebreak (near-identical texts often tie exactly).
    *
    * Selection is a single hash aggregate of `max(struct(quality,
    * -doc_id))` — struct comparison is lexicographic, so the max is
    * "best quality, then lowest doc_id" in one map-side-combining
    * pass. At 100 TB that beats a rank window (no per-cluster sort,
    * no skew exposure to a giant cluster).
    */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val cl = clusters(s, dir)
    val q = TextAnalysis.quality(s, dir).select(col("doc_id"), col("quality"))
    cl.join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("neg"))).as("best"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), (-col("best.neg")).as("doc_id"),
        col("best.quality").as("quality"), col("cluster_size"),
        (col("cluster_size") - 1).as("dropped_docs"))
      .orderBy(col("cluster_id"))
  }

  val keepBestOracle: String =
    s"""WITH RECURSIVE links AS ($minhashLinksSql),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM links WHERE jacc >= 0.8
       |  UNION
       |  SELECT b_id, a_id FROM links WHERE jacc >= 0.8),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |         FROM walk GROUP BY node),
       |qual AS (${TextAnalysis.qualityOracle})
       |SELECT cluster_id, doc_id, quality, cluster_size,
       |  cluster_size - 1 AS dropped_docs
       |FROM (
       |  SELECT c.cluster_id, c.doc_id, q.quality,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY q.quality DESC, c.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
       |  FROM comp c JOIN qual q USING (doc_id)) ranked
       |WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------
  /** Cluster-aware train/holdout split: the split key is the CLUSTER,
    * not the document, so near-duplicates can never straddle the
    * boundary (train/eval leakage). The assignment is a deterministic
    * integer hash of cluster_id (multiplier kept small so the product
    * stays in 63 bits at any plausible id — Java wraps silently,
    * other engines don't), ~90/10.
    */
  def clusterSplit(s: SparkSession, dir: String): DataFrame =
    clusters(s, dir)
      .withColumn("split",
        when(pmod(col("cluster_id") * 7919 + 13, lit(100)) < 90, "train")
          .otherwise("holdout"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))

  val clusterSplitOracle: String =
    s"""WITH RECURSIVE links AS ($minhashLinksSql),
       |edges AS (
       |  SELECT a_id AS src, b_id AS dst FROM links WHERE jacc >= 0.8
       |  UNION
       |  SELECT b_id, a_id FROM links WHERE jacc >= 0.8),
       |walk(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_id
       |         FROM walk GROUP BY node)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN (cluster_id * 7919 + 13) % 100 < 90
       |       THEN 'train' ELSE 'holdout' END AS split
       |FROM comp
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // ---------------------------------------------------------------
  /** Incremental ingestion dedup — the production shape for a corpus
    * that GROWS: a deterministic 10% hash-split "incoming batch"
    * probes the other 90% "indexed corpus" and only that. The corpus
    * side builds its band index once (at 100 TB this index persists
    * between batches); each incoming doc probes the index (hash join
    * on the band key), and every candidate is VERIFIED with the exact
    * Jaccard over hashed word sets before it can mark the doc a
    * duplicate. Incoming docs are never compared to each other and
    * the corpus is never re-linked — work per batch is O(batch ×
    * bands) probe + O(candidates) verify, independent of corpus size.
    *
    * Per incoming doc: candidates probed, verified duplicates
    * (J >= 0.8), and the winning corpus doc (−1 = novel document).
    */
  def incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("incoming", pmod(col("doc_id") * 2654435761L, lit(10)) === 0)
    // Per-row native signature, same move as [[minhashLsh]] (r17):
    // no word-level exchange; each rebuild is a narrow scan + one
    // native call per row (WordSigsSpec pins equality).
    val sigs = docs
      .select(col("doc_id"), col("incoming"),
        expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), col("incoming"),
        expr("minhash_sig(ws)").as("sig"))
      .select(col("doc_id") +: col("incoming") +: col("sig.hs").as("hs") +:
        (1 to 12).map(k => col("sig.mins")(k - 1).as(s"m$k")): _*)
    val bands = sigs.select(col("doc_id"), col("incoming"),
        explode(expr("array(" +
          "named_struct('band', 1, 'sig', concat_ws('_', CAST(m1 AS STRING), " +
          "CAST(m2 AS STRING), CAST(m3 AS STRING), CAST(m4 AS STRING), " +
          "CAST(m5 AS STRING), CAST(m6 AS STRING))), " +
          "named_struct('band', 2, 'sig', concat_ws('_', CAST(m7 AS STRING), " +
          "CAST(m8 AS STRING), CAST(m9 AS STRING), CAST(m10 AS STRING), " +
          "CAST(m11 AS STRING), CAST(m12 AS STRING))))"))
          .as("bs"))
      .select(col("doc_id"), col("incoming"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    // The persistent side: min corpus doc per occupied bucket.
    val index = bands.filter(!col("incoming"))
      .groupBy(col("band"), col("sig"))
      .agg(min(col("doc_id")).as("idx_doc"))
    val cand = bands.filter(col("incoming"))
      .join(index, Seq("band", "sig"))
      .select(col("doc_id"), col("idx_doc")).distinct()
    val hs = sigs.select(col("doc_id"), col("hs"))
    val jacc = size(array_intersect(col("hs"), col("c_hs"))) /
      size(array_union(col("hs"), col("c_hs")))
    val verified = cand
      .join(hs, Seq("doc_id"))
      .join(hs.select(col("doc_id").as("idx_doc"), col("hs").as("c_hs")),
        Seq("idx_doc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(jacc >= 0.8, 1L).otherwise(0L)).as("n_dup"),
        min(when(jacc >= 0.8, col("idx_doc"))).as("dup_of"))
    docs.filter(col("incoming")).select(col("doc_id"))
      .join(verified, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  val incrementalOracle: String = {
    val P = "1000000007"
    val wordHash = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % $P)"
    val mins = (1 to 12)
      .map(k => s"min((${2 * k + 1} * h + ${7919 * k}) % $P) AS m$k")
      .mkString(",\n       |    ")
    s"""WITH docs AS (
       |  SELECT doc_id, text, (doc_id * 2654435761) % 10 = 0 AS incoming
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, incoming,
       |    unnest(list_distinct(string_split(text, ' '))) AS w FROM docs),
       |hashed AS (SELECT doc_id, incoming, $wordHash AS h FROM words),
       |sigs AS (
       |  SELECT doc_id, incoming, list(DISTINCT h) AS hs,
       |    $mins
       |  FROM hashed GROUP BY doc_id, incoming),
       |bands AS (
       |  SELECT doc_id, incoming, 1 AS band,
       |    CAST(m1 AS VARCHAR) || '_' || CAST(m2 AS VARCHAR) || '_' ||
       |    CAST(m3 AS VARCHAR) || '_' || CAST(m4 AS VARCHAR) || '_' ||
       |    CAST(m5 AS VARCHAR) || '_' || CAST(m6 AS VARCHAR) AS sig
       |  FROM sigs
       |  UNION ALL
       |  SELECT doc_id, incoming, 2 AS band,
       |    CAST(m7 AS VARCHAR) || '_' || CAST(m8 AS VARCHAR) || '_' ||
       |    CAST(m9 AS VARCHAR) || '_' || CAST(m10 AS VARCHAR) || '_' ||
       |    CAST(m11 AS VARCHAR) || '_' || CAST(m12 AS VARCHAR) AS sig
       |  FROM sigs),
       |idx AS (
       |  SELECT band, sig, MIN(doc_id) AS idx_doc
       |  FROM bands WHERE NOT incoming GROUP BY band, sig),
       |cand AS (
       |  SELECT DISTINCT b.doc_id, i.idx_doc FROM bands b
       |  JOIN idx i ON b.band = i.band AND b.sig = i.sig WHERE b.incoming),
       |verified AS (
       |  SELECT c.doc_id, COUNT(*) AS n_cand,
       |    SUM(CASE WHEN len(list_intersect(si.hs, sc.hs)) * 1.0 /
       |      len(list_distinct(list_concat(si.hs, sc.hs))) >= 0.8
       |      THEN 1 ELSE 0 END) AS n_dup,
       |    MIN(CASE WHEN len(list_intersect(si.hs, sc.hs)) * 1.0 /
       |      len(list_distinct(list_concat(si.hs, sc.hs))) >= 0.8
       |      THEN c.idx_doc END) AS dup_of
       |  FROM cand c
       |  JOIN sigs si ON si.doc_id = c.doc_id
       |  JOIN sigs sc ON sc.doc_id = c.idx_doc
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(v.n_cand, 0) AS BIGINT) AS n_cand,
       |  CAST(coalesce(v.n_dup, 0) AS BIGINT) AS n_dup,
       |  CAST(coalesce(v.dup_of, -1) AS BIGINT) AS dup_of
       |FROM docs d LEFT JOIN verified v ON d.doc_id = v.doc_id
       |WHERE d.incoming
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Streaming face of [[incremental]]: an unbounded stream of
    * incoming documents probes the STATIC corpus band index — a
    * stream-static equi-join, which in Structured Streaming is
    * STATELESS (the static side broadcasts; no watermark, no state
    * store), so ingestion dedup runs continuously at the cost of a
    * per-row signature + two hash-join probes.
    *
    * The signature here is computed per row with higher-order
    * functions (`array_min(transform(...))` over the word hashes) —
    * a pure projection, exactly what a streaming operator wants. The
    * batch face instead explodes words into 12 codegen'd `min()`
    * hash aggregates, which is the faster shape for a full-corpus
    * scan; same numbers either way (both fold the same `fold_hash`).
    * Emits one row per (incoming doc, probed corpus candidate) with
    * its verified exact Jaccard — an append-only enrichment.
    */
  def incrementalStream(s: SparkSession, dir: String,
      incoming: DataFrame): DataFrame = {
    val P = 1000000007L
    def sigCol(ks: Range): String = ks
      .map(k => s"array_min(transform(hsArr, h -> (${2 * k + 1} * h + ${7919 * k}) % $P))")
      .mkString("concat_ws('_', ", ", ", ")")
    val withSig = incoming
      .withColumn("hsArr", expr(
        s"transform(array_distinct(split(text, ' ')), w -> fold_hash(w, 31, 0, $P))"))
      .withColumn("hs", expr("array_sort(array_distinct(hsArr))"))
      .select(col("doc_id"), col("hs"), explode(expr(
        s"array(named_struct('band', 1, 'sig', ${sigCol(1 to 6)}), " +
          s"named_struct('band', 2, 'sig', ${sigCol(7 to 12)}))")).as("bs"))
      .select(col("doc_id"), col("hs"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    // Static sides, built once from the corpus split of the fixture.
    val docs = Tables.documents(s, dir)
      .filter(pmod(col("doc_id") * 2654435761L, lit(10)) =!= 0)
    val words = docs
      .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("w"))
      .withColumn("h", expr(s"fold_hash(w, 31, 0, $P)"))
    val mins = (1 to 12).map(k =>
      min((lit(2L * k + 1) * col("h") + lit(7919L * k)) % P).as(s"m$k"))
    val aggs = sort_array(collect_set(col("h"))).as("c_hs") +: mins
    val sigs = words.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val index = sigs.select(col("doc_id"),
        explode(expr("array(" +
          "named_struct('band', 1, 'sig', concat_ws('_', CAST(m1 AS STRING), " +
          "CAST(m2 AS STRING), CAST(m3 AS STRING), CAST(m4 AS STRING), " +
          "CAST(m5 AS STRING), CAST(m6 AS STRING))), " +
          "named_struct('band', 2, 'sig', concat_ws('_', CAST(m7 AS STRING), " +
          "CAST(m8 AS STRING), CAST(m9 AS STRING), CAST(m10 AS STRING), " +
          "CAST(m11 AS STRING), CAST(m12 AS STRING))))"))
          .as("bs"))
      .groupBy(col("bs.band").as("band"), col("bs.sig").as("sig"))
      .agg(min(col("doc_id")).as("idx_doc"))
    val corpusSets = sigs.select(col("doc_id").as("idx_doc"), col("c_hs"))
    withSig
      .join(broadcast(index), Seq("band", "sig"))
      .join(broadcast(corpusSets), Seq("idx_doc"))
      .withColumn("jacc",
        size(array_intersect(col("hs"), col("c_hs"))) /
          size(array_union(col("hs"), col("c_hs"))))
      .select(col("doc_id"), col("idx_doc"), col("band"),
        (col("jacc") >= 0.8).as("is_dup"))
  }

  def all: Seq[Q] = Seq(
    Q("dedup_exact", exact, Some(exactOracle),
      "exact hash-groupBy dedup stats per source"),
    Q("dedup_ngram_jaccard", ngramJaccard, Some(ngramJaccardOracle),
      "shingle Jaccard near-dup: 1-hash blocking + representative links"),
    Q("dedup_minhash_lsh", minhashLsh, Some(minhashLshOracle),
      "MinHash 12-sig, 2x6 LSH bands, Jaccard-verified pairs"),
    Q("dedup_simhash", simhash, Some(simhashOracle),
      "64-bit SimHash, 16-bit band blocking, representative-link histogram"),
    Q("dedup_embedding_cosine", embeddingCosine, Some(embeddingCosineOracle),
      "cosine near-dup: hyperplane-LSH sub-buckets + representative links"),
    Q("dedup_clusters", clusters, Some(clustersOracle),
      "connected components over J>=0.8 LSH links via min-label rounds"),
    Q("dedup_keep_best", keepBest, Some(keepBestOracle),
      "one best-quality doc per near-dup cluster via struct-max agg"),
    Q("dedup_cluster_split", clusterSplit, Some(clusterSplitOracle),
      "leak-free train/holdout split assigned per cluster, not per doc"),
    Q("dedup_incremental", incremental, Some(incrementalOracle),
      "incoming batch probes the persistent corpus band index, Jaccard-verified"),
    Q("dedup_band_sweep", bandSweep, Some(bandSweepOracle),
      "LSH tuning curve: candidates vs J>=0.8 confirms across 4 band configs"))
}
