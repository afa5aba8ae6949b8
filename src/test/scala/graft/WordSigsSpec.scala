package graft

import org.apache.spark.sql.functions._

/** The per-row native signature expressions (r17) must agree
  * bit-for-bit with the exploded/aggregated forms they replaced in
  * the dedup operators — same char fold, same permutation constants,
  * same sorted-distinct hash set, same majority-vote sign rule.
  */
class WordSigsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private val P = 1000000007L

  test("minhash_sig equals the explode/groupBy signature on the fixture") {
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("w"))
      .withColumn("h", expr(s"fold_hash(w, 31, 0, $P)"))
    val mins = (1 to 12).map(k =>
      min((lit(2L * k + 1) * col("h") + lit(7919L * k)) % P).as(s"m$k"))
    val aggs = sort_array(collect_set(col("h"))).as("hs") +: mins
    val old = words.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val neu = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), expr("minhash_sig(ws)").as("sig"))
      .select(col("doc_id") +: col("sig.hs").as("hs") +:
        (1 to 12).map(k => col("sig.mins")(k - 1).as(s"m$k")): _*)
    assert(old.count() === neu.count())
    assert(old.exceptAll(neu).count() === 0)
    assert(neu.exceptAll(old).count() === 0)
  }

  test("simhash_sig equals the 64-vote aggregate signature on the fixture") {
    val P1 = 4294967291L
    val P2 = 4294967279L
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("w"))
      .withColumn("h1", expr(s"fold_hash(w, 31, 0, $P1)"))
      .withColumn("h2", expr(s"fold_hash(w, 37, 17, $P2)"))
    val votes =
      (0 to 31).map(j => sum(when(expr(s"(shiftright(h1, $j) & 1) = 1"), 1)
        .otherwise(-1)).as(s"a$j")) ++
      (0 to 31).map(j => sum(when(expr(s"(shiftright(h2, $j) & 1) = 1"), 1)
        .otherwise(-1)).as(s"b$j"))
    def half(prefix: String) = (0 to 31)
      .map(j => s"(CASE WHEN $prefix$j >= 0 THEN shiftleft(CAST(1 AS BIGINT), $j) " +
        "ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val old = words.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .withColumn("sim_lo", expr(half("a")))
      .withColumn("sim_hi", expr(half("b")))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"))
    val neu = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("array_distinct(split(text, ' '))").as("ws"))
      .filter(col("ws").isNotNull)
      .select(col("doc_id"), expr("simhash_sig(ws)").as("sig"))
      .select(col("doc_id"), col("sig.sim_lo").as("sim_lo"),
        col("sig.sim_hi").as("sim_hi"))
    assert(old.count() === neu.count())
    assert(old.exceptAll(neu).count() === 0)
    assert(neu.exceptAll(old).count() === 0)
  }

  test("bigram_stats equals the explode/double-groupBy counts on the fixture") {
    val base = Tables.documents(spark, sf)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", expr("CAST(size(ws) AS BIGINT)"))
      .filter(col("n") >= 2)
    val old = base
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, CAST(n AS INT) - 1), " +
          "i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bg"), count(lit(1)).as("d_bg"),
        max(col("c")).as("top_c"))
    val neu = base.select(col("doc_id"), (col("n") - 1).as("n_bg"),
      expr("bigram_stats(ws)").as("bs"))
      .select(col("doc_id"), col("n_bg"), col("bs.d_bg").as("d_bg"),
        col("bs.top_c").as("top_c"))
    assert(old.count() === neu.count())
    assert(old.exceptAll(neu).count() === 0)
    assert(neu.exceptAll(old).count() === 0)
  }

  test("minhash_sig edge cases: empty word, hash-collision dedup, null array") {
    // '' folds to 0; duplicate hash values collapse to one hs element
    // (collect_set semantics); a null word array yields a null sig.
    val row = spark.sql(
      """SELECT minhash_sig(array('')) AS e,
        |       minhash_sig(array('ab', 'ab')) AS d,
        |       minhash_sig(CAST(NULL AS ARRAY<STRING>)) AS n""".stripMargin)
      .head()
    val e = row.getStruct(0)
    assert(e.getSeq[Long](0) === Seq(0L))
    assert(e.getSeq[Long](1) === (1 to 12).map(k => 7919L * k % P))
    val d = row.getStruct(1)
    assert(d.getSeq[Long](0).length === 1)
    assert(row.isNullAt(2))
  }
}
