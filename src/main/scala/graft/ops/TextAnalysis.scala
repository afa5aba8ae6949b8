package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` fixture — the
  * training-data-pipeline extensions beyond the reference's SQL corpus
  * (builder brief; SURVEY.md §7 step 8): language ID, quality scoring,
  * token counting, and rolling-hash fingerprinting.
  *
  * Everything is built from codegen'd Spark built-ins and higher-order
  * functions (no UDFs), so predicates/pruning still push down and the
  * per-row work scales linearly with no shuffle until the final
  * aggregate.
  *
  * Cross-engine determinism: all scoring is integer arithmetic or
  * single IEEE double expressions; the char-level rolling hash is a
  * left fold `(acc*31 + codepoint) mod 1e9+7` that DuckDB reproduces
  * exactly with list_reduce.
  */
object TextAnalysis {

  /** Spark-side char-fold rolling hash of a string SQL expression —
    * the native codegen'd [[graft.functions.FoldHash]], which every
    * session carries through [[graft.sources.GraftSparkExtensions]];
    * fold order and modular arithmetic identical to the interpreted
    * HOF form it replaced.
    */
  def foldHashExpr(s: String): String =
    s"fold_hash($s, 31, 0, 1000000007)"

  /** DuckDB-side equivalent of [[foldHashExpr]]. */
  def foldHashSql(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  private val enWords = Seq("the", "a")
  private val deWords = Seq("data", "table", "row")
  private val frWords = Seq("fast", "slow")

  private def arr(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  // ---------------------------------------------------------------
  /** Language ID via marker-word scoring (an n-gram/stopword
    * heuristic): count marker hits per language over the token
    * stream, argmax with deterministic tie-break order, then emit the
    * lang × predicted confusion matrix.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    def hits(ws: Seq[String]) =
      expr(s"size(filter(split(text, ' '), w -> array_contains(array(${arr(ws)}), w)))")
    Tables.documents(s, dir)
      .withColumn("en_hits", hits(enWords))
      .withColumn("de_hits", hits(deWords))
      .withColumn("fr_hits", hits(frWords))
      .withColumn("pred_lang",
        when(col("en_hits") > 0 && col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits"), "en")
          .when(col("de_hits") > 0 && col("de_hits") >= col("fr_hits"), "de")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("und"))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("docs"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val langIdOracle: String = {
    def hits(ws: Seq[String]) =
      s"len(list_filter(string_split(text, ' '), w -> list_contains([${arr(ws)}], w)))"
    s"""SELECT lang, pred_lang, COUNT(*) AS docs
       |FROM (
       |  SELECT lang,
       |    CASE WHEN en_hits > 0 AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |         WHEN de_hits > 0 AND de_hits >= fr_hits THEN 'de'
       |         WHEN fr_hits > 0 THEN 'fr'
       |         ELSE 'und' END AS pred_lang
       |  FROM (SELECT lang, ${hits(enWords)} AS en_hits,
       |          ${hits(deWords)} AS de_hits, ${hits(frWords)} AS fr_hits
       |        FROM documents) scored) preds
       |GROUP BY lang, pred_lang
       |ORDER BY lang, pred_lang""".stripMargin
  }

  // ---------------------------------------------------------------
  /** Per-document quality score: token count, average word length,
    * stopword ratio, combined into one bounded score. All ratios are
    * int/int divisions (→ double in both engines) and the blend is a
    * single IEEE expression.
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("n_tokens", expr("size(split(text, ' '))"))
      .withColumn("stop_hits",
        expr(s"size(filter(split(text, ' '), w -> array_contains(array(${arr(enWords)}), w)))"))
      .withColumn("avg_wlen",
        (length(col("text")) - col("n_tokens") + 1) / col("n_tokens"))
      .withColumn("stop_ratio", col("stop_hits") / col("n_tokens"))
      .withColumn("quality",
        lit(0.4) * least(lit(1.0), col("n_tokens") / 100.0) +
          lit(0.3) * (lit(1.0) - least(lit(1.0), col("stop_ratio") * 5.0)) +
          lit(0.3) * least(lit(1.0), col("avg_wlen") / 8.0))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("avg_wlen"), col("stop_ratio"), col("quality"))
      .orderBy(col("doc_id"))

  val qualityOracle: String =
    s"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, avg_wlen, stop_ratio,
       |  0.4 * least(1.0, n_tokens / 100.0) +
       |  0.3 * (1.0 - least(1.0, stop_ratio * 5.0)) +
       |  0.3 * least(1.0, avg_wlen / 8.0) AS quality
       |FROM (
       |  SELECT doc_id, n_tokens, stop_hits,
       |    (length(text) - n_tokens + 1) / n_tokens AS avg_wlen,
       |    stop_hits * 1.0 / n_tokens AS stop_ratio
       |  FROM (SELECT doc_id, text,
       |          len(string_split(text, ' ')) AS n_tokens,
       |          len(list_filter(string_split(text, ' '),
       |            w -> list_contains([${arr(enWords)}], w))) AS stop_hits
       |        FROM documents) counted) scored
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Token counting per source: whitespace tokens plus a BPE-ish
    * subtoken estimate (⌈len/4⌉ pieces per word, folded with integer
    * arithmetic).
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("ws_tokens", expr("CAST(size(split(text, ' ')) AS BIGINT)"))
      .withColumn("subtokens",
        expr("aggregate(split(text, ' '), CAST(0 AS BIGINT), " +
          "(acc, w) -> acc + CAST((length(w) + 3) div 4 AS BIGINT))"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"),
        sum(col("ws_tokens")).as("tok_sum"),
        sum(col("subtokens")).as("subtok_sum"),
        sum(length(col("text"))).as("chars_sum"))
      .orderBy(col("source"))

  val tokensOracle: String =
    """SELECT source, COUNT(*) AS docs,
      |  CAST(SUM(ws_tokens) AS BIGINT) AS tok_sum,
      |  CAST(SUM(subtokens) AS BIGINT) AS subtok_sum,
      |  CAST(SUM(length(text)) AS BIGINT) AS chars_sum
      |FROM (SELECT source, text,
      |        len(string_split(text, ' ')) AS ws_tokens,
      |        list_sum(list_transform(string_split(text, ' '),
      |          w -> (length(w) + 3) // 4)) AS subtokens
      |      FROM documents) counted
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  /** Rolling-hash document fingerprint (char-level polynomial fold) —
    * the exact-dedup / shingle-hash primitive. Emitted per doc plus a
    * distinct-fingerprint summary column via a window-free self-agg.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), expr(foldHashExpr("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  val fingerprintOracle: String =
    s"""SELECT doc_id, ${foldHashSql("text")} AS fp
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  /** Deterministic hash sampling — the pipeline primitive for
    * repeatable subsets at scale (no `rand()`: the sample is a pure
    * function of the key, so it is stable across retries, engines,
    * and partitionings). An affine hash of doc_id mod 100 keeps ~5%.
    */
  def sample(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("h", (lit(1103515245L) * col("doc_id") + 12345L) % 1000000007L % 100)
      .filter(col("h") < 5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("sampled_docs"), sum(col("n_chars")).as("sampled_chars"))
      .orderBy(col("lang"))

  val sampleOracle: String =
    """SELECT lang, COUNT(*) AS sampled_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
      |FROM documents
      |WHERE (1103515245 * doc_id + 12345) % 1000000007 % 100 < 5
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  /** One BPE merge-mining iteration, distributed: collapse the corpus
    * to its vocabulary (word → corpus count — the one aggregation that
    * shrinks 100 TB of text to a few million rows), explode each
    * distinct word into adjacent character pairs, and rank pairs by
    * corpus-weighted frequency. The top pair IS the next BPE merge;
    * the top-10 frame is the candidate list a tokenizer trainer
    * iterates on. Pure integer counting — no float anywhere — and the
    * heavy explode runs over distinct words, not documents, so the
    * per-iteration cost is vocabulary-sized.
    */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wcount"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("w"), col("wcount"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wcount")).as("weight"),
        countDistinct(col("w")).as("n_words"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(10)
  }

  val bpePairsOracle: String =
    """WITH words AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wcount
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) x
      |  WHERE length(w) >= 2
      |  GROUP BY w),
      |pairs AS (
      |  SELECT w, wcount,
      |    unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair
      |  FROM words)
      |SELECT pair, CAST(SUM(wcount) AS BIGINT) AS weight,
      |  COUNT(DISTINCT w) AS n_words
      |FROM pairs
      |GROUP BY pair
      |ORDER BY weight DESC, pair
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------
  /** The BPE merge APPLIED: take [[bpePairs]]' argmax pair and merge
    * it across the vocabulary, reporting the corpus-level effect
    * (tokens before/after, chars saved, words touched) — one full
    * iteration of tokenizer training: mine (keyed agg) → pick the
    * best merge (2-row broadcast) → apply (linear map). Non-overlapping
    * left-to-right replacement is the exact contract of BOTH engines'
    * literal `replace()` (no regex), so per-word merged lengths are
    * bit-identical; '_' is outside the corpus alphabet.
    */
  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wcount"))
      .filter(length(col("w")) >= 2)
    val best = words
      .select(col("w"), col("wcount"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("wcount")).as("weight"))
      .orderBy(col("weight").desc, col("pair"))
      .limit(1)
      .select(col("pair"))
    words.crossJoin(broadcast(best))
      .withColumn("merged_len",
        expr("CAST(length(replace(w, pair, '_')) AS BIGINT)"))
      .withColumn("occ", length(col("w")).cast("long") - col("merged_len"))
      .groupBy(col("pair"))
      .agg(sum(col("wcount") * length(col("w")).cast("long")).as("chars_before"),
        sum(col("wcount") * col("merged_len")).as("chars_after"),
        sum(when(col("occ") > 0, col("wcount")).otherwise(0L)).as("tokens_touched"),
        sum(col("occ") * col("wcount")).as("merges_applied"),
        countDistinct(when(col("occ") > 0, col("w"))).as("vocab_touched"))
      .orderBy(col("pair"))
  }

  val bpeApplyOracle: String =
    """WITH words AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS wcount
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) x
      |  WHERE length(w) >= 2
      |  GROUP BY w),
      |best AS (
      |  SELECT pair FROM (
      |    SELECT pair, SUM(wcount) AS weight
      |    FROM (SELECT w, wcount,
      |            unnest(list_transform(range(1, length(w)), i -> w[i:i+1])) AS pair
      |          FROM words) p
      |    GROUP BY pair
      |    ORDER BY weight DESC, pair LIMIT 1) b),
      |applied AS (
      |  SELECT best.pair, w, wcount,
      |    CAST(length(replace(w, best.pair, '_')) AS BIGINT) AS merged_len,
      |    CAST(length(w) AS BIGINT) AS wlen
      |  FROM words CROSS JOIN best)
      |SELECT pair,
      |  CAST(SUM(wcount * wlen) AS BIGINT) AS chars_before,
      |  CAST(SUM(wcount * merged_len) AS BIGINT) AS chars_after,
      |  CAST(SUM(CASE WHEN wlen > merged_len THEN wcount ELSE 0 END) AS BIGINT)
      |    AS tokens_touched,
      |  CAST(SUM((wlen - merged_len) * wcount) AS BIGINT) AS merges_applied,
      |  COUNT(DISTINCT CASE WHEN wlen > merged_len THEN w END) AS vocab_touched
      |FROM applied
      |GROUP BY pair
      |ORDER BY pair""".stripMargin

  // ---------------------------------------------------------------
  /** Regex collocation mining — the extraction face of the PII-redaction
    * / pattern-scrubbing pipeline stage (the fixture vocabulary has no
    * PII-shaped tokens, so the demonstrated pattern targets content
    * that exists: the word following the stopword 'the'). One
    * `regexp_extract_all` per document (codegen'd, linear), explode,
    * keyed count, top-20 — the same shape a scrubber uses to count and
    * strip email/phone matches at corpus scale.
    *
    * Cross-engine: leftmost non-overlapping matching of this
    * letters-and-word-boundary pattern is identical in Java regex and
    * RE2; both engines receive the pattern text verbatim.
    */
  def collocations(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(regexp_extract_all(col("text"),
        lit("\\bthe ([a-z]+)"), lit(1))).as("nextw"))
      .groupBy(col("nextw"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("nextw"))
      .limit(20)

  val collocationsOracle: String =
    """SELECT nextw, COUNT(*) AS cnt
      |FROM (SELECT unnest(regexp_extract_all(text, '\bthe ([a-z]+)', 1)) AS nextw
      |      FROM documents) x
      |GROUP BY nextw
      |ORDER BY cnt DESC, nextw
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  def all: Seq[Q] = Seq(
    Q("text_sample", sample, Some(sampleOracle),
      "deterministic hash sampling (~5%), stable across engines"),
    Q("text_langid", langId, Some(langIdOracle),
      "marker-word language ID -> confusion matrix"),
    Q("text_quality", quality, Some(qualityOracle),
      "per-doc quality score from token/length/stopword stats"),
    Q("text_tokens", tokens, Some(tokensOracle),
      "whitespace + BPE-ish subtoken counts per source"),
    Q("text_fingerprint", fingerprint, Some(fingerprintOracle),
      "rolling polynomial hash fingerprint per doc"),
    Q("text_bpe_pairs", bpePairs, Some(bpePairsOracle),
      "one distributed BPE merge-mining step over the vocabulary"),
    Q("text_bpe_apply", bpeApply, Some(bpeApplyOracle),
      "the mined BPE merge applied across the vocabulary (full iteration)"),
    Q("text_collocations", collocations, Some(collocationsOracle),
      "regex extraction stage: stopword collocation top-20"))
}
