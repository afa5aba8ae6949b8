package graft.queries

import scala.collection.concurrent.TrieMap

import graft.{Q, Runner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType

/** Verbatim execution of the reference TPC-H corpus (VERDICT r1 #1).
  *
  * The reference names tables `${database}.${schema}.lineitem` with
  * Trino-style unprefixed columns (`l.returnflag` —
  * `queries/tpch/q01.sql:2`, templating at `IcebergBenchmark.java:175`).
  * This module registers a `tpch` database whose views expose exactly
  * that surface over the local fixtures, so every one of the 22
  * reference `.sql` files runs through `spark.sql` UNMODIFIED with
  * `${database}` -> `spark_catalog`, `${schema}` -> `tpch`.
  *
  * The fixtures carry a subset of dbgen's schema (FIXTURES.md §2), so
  * the views SYNTHESIZE the rest deterministically — every expression
  * mirrored bit-for-bit in the DuckDB oracle prefix below:
  *
  *  - `partsupp` (q02/q09/q11/q16/q20): 4 rows per part with
  *    modulo-derived suppkey/availqty/supplycost.
  *  - lineitem `commitdate`/`receiptdate` (q04/q12/q21): shipdate plus
  *    a key-derived day offset; `shipmode`/`shipinstruct` (q12/q19):
  *    modulo lookup over the dbgen value lists.
  *  - part `mfgr`/`container` and 3-word `type` (q02/q08/q16/q17/q19),
  *    color-prefixed `name` (q09 '%green%', q20 'forest%').
  *  - customer/supplier `address`/`phone`/`comment` (q10/q13/q15/q16/
  *    q22): phone country code = nationkey+10, matching q22's
  *    cntrycode arithmetic; supplier comments seed q16's
  *    'Customer Complaints' NOT IN set; order comments seed q13's
  *    '%special%requests%' NOT LIKE.
  *  - nation `name` remapped to the TPC-H spec nation list by key
  *    (fixture names are NATION_n; the corpus filters on GERMANY,
  *    FRANCE, BRAZIL, CANADA, SAUDI ARABIA).
  *  - all dates shifted back 730 days: the corpus's windows assume
  *    dbgen's 1992-1998 range, the fixtures span 1995-2001.
  *
  * Money columns surface as DECIMAL(12,2): the corpus aggregates are
  * raw `sum(...)`, and only exact decimal accumulation is
  * order-independent enough to hash-match across engines (see
  * graft.Cols). Division/average outputs (q01 avgs, q08/q14 ratios,
  * q17) are reproduced in the oracle with exact HUGEINT half-up
  * arithmetic at scale 6 — the same rounding Spark's decimal division
  * applies.
  *
  * For the correctness gate the verbatim result is wrapped in a
  * rename + decimal->double projection: the driver's compare sorts
  * columns by name (so names must match the oracle; q02/q10 have
  * duplicate unaliased `name` columns that parquet cannot even
  * write), and both engines' doubles come from the same exact
  * decimals. The query text itself is untouched — `Runner` executes
  * the raw files end-to-end against the same views (RunnerSpec).
  */
object Corpus {

  /** Database the corpus views live in; `${schema}` substitution. */
  val db = "tpch"

  /** `${database}` substitution: 3-part names resolve through the
    * session catalog, mirroring the reference's `USE catalog.db`.
    */
  val catalog = "spark_catalog"

  // ----------------------------------------------------------------
  // Deterministic synthesis domains (public TPC-H spec value lists).
  // ----------------------------------------------------------------
  private val nationNames = Seq(
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  private val shipModes =
    Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val shipInstructs =
    Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val nameColors = Seq(
    "almond", "antique", "forest", "green", "metallic", "midnight",
    "powder", "sky")
  private val typeMid = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val typeEnd = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val contSize = Seq("SM", "MED", "LG", "JUMBO", "WRAP")
  private val contKind = Seq("CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM")

  private def lit(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString(", ")

  /** Spark: 1-based list pick by a modulo index expression. */
  private def pick(xs: Seq[String], idx: String): String =
    s"element_at(array(${lit(xs)}), CAST($idx AS INT) + 1)"

  /** DuckDB: same pick (lists are 1-based). */
  private def dpick(xs: Seq[String], idx: String): String =
    s"([${lit(xs)}])[CAST($idx AS INTEGER) + 1]"

  // ----------------------------------------------------------------
  // Spark corpus views (one per dbgen table).
  // ----------------------------------------------------------------
  private def viewDefs(dir: String, supplierCount: Long): Seq[(String, String)] = {
    def pq(t: String) = s"parquet.`$dir/$t.parquet`"
    Seq(
      "region" ->
        s"SELECT r_regionkey AS regionkey, r_name AS name FROM ${pq("region")}",
      "nation" ->
        s"""SELECT n_nationkey AS nationkey,
           |  ${pick(nationNames, "n_nationkey")} AS name,
           |  n_regionkey AS regionkey
           |FROM ${pq("nation")}""".stripMargin,
      "customer" ->
        s"""SELECT c_custkey AS custkey, c_name AS name,
           |  CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal,
           |  c_mktsegment AS mktsegment, c_nationkey AS nationkey,
           |  concat('Address#C', c_custkey) AS address,
           |  concat(CAST(c_nationkey + 10 AS STRING), '-555-',
           |         lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')) AS phone,
           |  concat('customer comment ', c_custkey) AS comment
           |FROM ${pq("customer")}""".stripMargin,
      "supplier" ->
        s"""SELECT s_suppkey AS suppkey, s_name AS name,
           |  CAST(s_acctbal AS DECIMAL(12,2)) AS acctbal,
           |  s_nationkey AS nationkey,
           |  concat('Address#S', s_suppkey) AS address,
           |  concat(CAST(s_nationkey + 10 AS STRING), '-555-',
           |         lpad(CAST(s_suppkey % 10000 AS STRING), 4, '0')) AS phone,
           |  CASE WHEN s_suppkey % 13 = 9
           |       THEN concat('sees frequent Customer Complaints: case ', s_suppkey)
           |       ELSE concat('supplier comment ', s_suppkey) END AS comment
           |FROM ${pq("supplier")}""".stripMargin,
      "part" ->
        s"""SELECT p_partkey AS partkey,
           |  concat(${pick(nameColors, "p_partkey % 8")}, ' ', p_name) AS name,
           |  concat('Manufacturer#', CAST(p_partkey % 5 + 1 AS STRING)) AS mfgr,
           |  p_brand AS brand,
           |  concat(p_type, ' ', ${pick(typeMid, "p_partkey % 5")},
           |         ' ', ${pick(typeEnd, "(p_partkey div 5) % 5")}) AS type,
           |  p_size AS size,
           |  concat(${pick(contSize, "p_partkey % 5")}, ' ',
           |         ${pick(contKind, "(p_partkey div 7) % 8")}) AS container,
           |  CAST(p_retailprice AS DECIMAL(12,2)) AS retailprice
           |FROM ${pq("part")}""".stripMargin,
      "partsupp" ->
        s"""SELECT p_partkey AS partkey,
           |  pmod(p_partkey * 13 + i * 17 + 7, $supplierCount) AS suppkey,
           |  CAST(pmod(p_partkey * 31 + i * 101, 9999) + 1 AS INT) AS availqty,
           |  CAST(pmod(p_partkey * 57 + i * 223, 99900) + 100 AS DECIMAL(10,0))
           |    * CAST(0.01 AS DECIMAL(3,2)) AS supplycost
           |FROM ${pq("part")}
           |LATERAL VIEW explode(array(0, 1, 2, 3)) gen AS i""".stripMargin,
      // custkey remap: fixture orders cover every customer, but TPC-H
      // leaves a third of customers orderless (q13's zero bucket,
      // q22's NOT EXISTS set). Shift orders off custkeys ending in 7
      // so 10% of customers have no orders.
      "orders" ->
        s"""SELECT o_orderkey AS orderkey,
           |  CASE WHEN o_custkey % 10 = 7 THEN o_custkey - 1
           |       ELSE o_custkey END AS custkey,
           |  o_orderstatus AS orderstatus,
           |  CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
           |  date_sub(CAST(o_orderdate AS DATE), 730) AS orderdate,
           |  o_orderpriority AS orderpriority,
           |  0 AS shippriority,
           |  CASE WHEN o_orderkey % 17 = 3
           |       THEN concat('special requests noted for order ', o_orderkey)
           |       ELSE concat('order comment ', o_orderkey) END AS comment
           |FROM ${pq("orders")}""".stripMargin,
      // suppkey remap: dbgen guarantees every lineitem (partkey,
      // suppkey) pair exists in partsupp (q09's profit join, q20's
      // per-pair quantity threshold). Project the fixture's random
      // l_suppkey onto one of the part's 4 synthesized partsupp
      // suppliers — same formula as the partsupp view with
      // i = l_suppkey % 4.
      "lineitem" ->
        s"""SELECT orderkey, partkey,
           |  pmod(partkey * 13 + pmod(rawsupp, 4) * 17 + 7, $supplierCount) AS suppkey,
           |  linenumber, quantity,
           |  extendedprice, discount, tax, returnflag, linestatus, shipdate,
           |  date_add(shipdate, CAST(pmod(orderkey * 3 + linenumber * 5, 21) AS INT) - 7) AS commitdate,
           |  date_add(shipdate, CAST(pmod(orderkey * 5 + linenumber * 7, 14) AS INT) + 1) AS receiptdate,
           |  ${pick(shipModes, "pmod(orderkey + linenumber, 7)")} AS shipmode,
           |  ${pick(shipInstructs, "pmod(orderkey * 2 + linenumber, 4)")} AS shipinstruct
           |FROM (
           |  SELECT l_orderkey AS orderkey, l_partkey AS partkey,
           |    l_suppkey AS rawsupp, l_linenumber AS linenumber,
           |    CAST(l_quantity AS DECIMAL(12,2)) AS quantity,
           |    CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice,
           |    CAST(l_discount AS DECIMAL(12,2)) AS discount,
           |    CAST(l_tax AS DECIMAL(12,2)) AS tax,
           |    l_returnflag AS returnflag, l_linestatus AS linestatus,
           |    date_sub(CAST(l_shipdate AS DATE), 730) AS shipdate
           |  FROM ${pq("lineitem")}) base""".stripMargin)
  }

  private val lastDir = TrieMap.empty[Int, String]

  /** Create the `tpch` database + corpus views for `dir` (idempotent
    * per session; re-registers if the session switches fixtures).
    */
  def register(s: SparkSession, dir: String): Unit = {
    val k = System.identityHashCode(s)
    val cacheKey = s"$dir|${Materialize.enabled(s)}"
    if (!lastDir.get(k).contains(cacheKey)) {
      val supplierCount = s.read.parquet(s"$dir/supplier.parquet").count()
      s.sql(s"CREATE DATABASE IF NOT EXISTS spark_catalog.$db")
      // Physical-table materialization (see [[Materialize]]): corpus
      // queries scan stat-bearing parquet tables with pushdown
      // instead of re-deriving the synthesized columns per query.
      val defs = viewDefs(dir, supplierCount)
      val asTables = Materialize.registerTables(
        s, db, dir, defs,
        sortKey = Map(
          "lineitem" -> "shipdate",
          "orders" -> "orderdate",
          "partsupp" -> "partkey"),
        singleFile = Set("region", "nation", "customer", "supplier", "part"))
      if (!asTables) defs.foreach { case (name, sql) =>
        Materialize.resetRelation(s, db, name)
        s.sql(s"CREATE OR REPLACE VIEW spark_catalog.$db.$name AS $sql")
      }
      lastDir(k) = cacheKey
    }
  }

  /** Read + template + run one reference file verbatim; rename output
    * columns positionally and cast decimals to double for the gate.
    */
  private def gate(name: String, renames: Seq[String]): (SparkSession, String) => DataFrame =
    (s, dir) => {
      register(s, dir)
      val raw = CorpusFiles.tpch.read(name)
      val sql = Runner.template(raw, catalog, db).trim.stripSuffix(";")
      val df = s.sql(sql).toDF(renames: _*)
      df.select(df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case _: DecimalType => col(f.name).cast("double").as(f.name)
          case _ => col(f.name)
        }
      }: _*)
    }

  // ----------------------------------------------------------------
  // DuckDB oracle: the same views as WITH-prefix CTEs over the
  // physical fixture tables, every synthesis expression mirrored.
  // ----------------------------------------------------------------
  private val oraclePrefix: String =
    s"""t_region AS (
       |  SELECT r_regionkey AS regionkey, r_name AS name FROM region),
       |t_nation AS (
       |  SELECT n_nationkey AS nationkey,
       |    ${dpick(nationNames, "n_nationkey")} AS name,
       |    n_regionkey AS regionkey
       |  FROM nation),
       |t_customer AS (
       |  SELECT c_custkey AS custkey, c_name AS name,
       |    CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal,
       |    c_mktsegment AS mktsegment, c_nationkey AS nationkey,
       |    concat('Address#C', c_custkey) AS address,
       |    concat(CAST(c_nationkey + 10 AS VARCHAR), '-555-',
       |           lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')) AS phone,
       |    concat('customer comment ', c_custkey) AS comment
       |  FROM customer),
       |t_supplier AS (
       |  SELECT s_suppkey AS suppkey, s_name AS name,
       |    CAST(s_acctbal AS DECIMAL(12,2)) AS acctbal,
       |    s_nationkey AS nationkey,
       |    concat('Address#S', s_suppkey) AS address,
       |    concat(CAST(s_nationkey + 10 AS VARCHAR), '-555-',
       |           lpad(CAST(s_suppkey % 10000 AS VARCHAR), 4, '0')) AS phone,
       |    CASE WHEN s_suppkey % 13 = 9
       |         THEN concat('sees frequent Customer Complaints: case ', s_suppkey)
       |         ELSE concat('supplier comment ', s_suppkey) END AS comment
       |  FROM supplier),
       |t_part AS (
       |  SELECT p_partkey AS partkey,
       |    concat(${dpick(nameColors, "p_partkey % 8")}, ' ', p_name) AS name,
       |    concat('Manufacturer#', CAST(p_partkey % 5 + 1 AS VARCHAR)) AS mfgr,
       |    p_brand AS brand,
       |    concat(p_type, ' ', ${dpick(typeMid, "p_partkey % 5")},
       |           ' ', ${dpick(typeEnd, "(p_partkey // 5) % 5")}) AS type,
       |    p_size AS size,
       |    concat(${dpick(contSize, "p_partkey % 5")}, ' ',
       |           ${dpick(contKind, "(p_partkey // 7) % 8")}) AS container,
       |    CAST(p_retailprice AS DECIMAL(12,2)) AS retailprice
       |  FROM part),
       |t_partsupp AS (
       |  SELECT p_partkey AS partkey,
       |    (p_partkey * 13 + i * 17 + 7) % (SELECT count(*) FROM supplier) AS suppkey,
       |    CAST((p_partkey * 31 + i * 101) % 9999 + 1 AS INTEGER) AS availqty,
       |    CAST((p_partkey * 57 + i * 223) % 99900 + 100 AS DECIMAL(10,0))
       |      * CAST(0.01 AS DECIMAL(3,2)) AS supplycost
       |  FROM part, (SELECT unnest([0, 1, 2, 3]) AS i) gen),
       |t_orders AS (
       |  SELECT o_orderkey AS orderkey,
       |    CASE WHEN o_custkey % 10 = 7 THEN o_custkey - 1
       |         ELSE o_custkey END AS custkey,
       |    o_orderstatus AS orderstatus,
       |    CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice,
       |    CAST(o_orderdate AS DATE) - 730 AS orderdate,
       |    o_orderpriority AS orderpriority,
       |    0 AS shippriority,
       |    CASE WHEN o_orderkey % 17 = 3
       |         THEN concat('special requests noted for order ', o_orderkey)
       |         ELSE concat('order comment ', o_orderkey) END AS comment
       |  FROM orders),
       |t_lineitem AS (
       |  SELECT orderkey, partkey,
       |    (partkey * 13 + (rawsupp % 4) * 17 + 7) % (SELECT count(*) FROM supplier) AS suppkey,
       |    linenumber, quantity,
       |    extendedprice, discount, tax, returnflag, linestatus, shipdate,
       |    shipdate + (CAST((orderkey * 3 + linenumber * 5) % 21 AS INTEGER) - 7) AS commitdate,
       |    shipdate + (CAST((orderkey * 5 + linenumber * 7) % 14 AS INTEGER) + 1) AS receiptdate,
       |    ${dpick(shipModes, "(orderkey + linenumber) % 7")} AS shipmode,
       |    ${dpick(shipInstructs, "(orderkey * 2 + linenumber) % 4")} AS shipinstruct
       |  FROM (
       |    SELECT l_orderkey AS orderkey, l_partkey AS partkey,
       |      l_suppkey AS rawsupp, l_linenumber AS linenumber,
       |      CAST(l_quantity AS DECIMAL(12,2)) AS quantity,
       |      CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice,
       |      CAST(l_discount AS DECIMAL(12,2)) AS discount,
       |      CAST(l_tax AS DECIMAL(12,2)) AS tax,
       |      l_returnflag AS returnflag, l_linestatus AS linestatus,
       |      CAST(l_shipdate AS DATE) - 730 AS shipdate
       |    FROM lineitem) base)""".stripMargin

  /** Wrap a query body (and optional extra CTEs) with the view prefix. */
  private def o(body: String, extra: String = ""): String =
    "WITH " + oraclePrefix + (if (extra.isEmpty) "" else ",\n" + extra) + "\n" + body

  /** Exact mirror of Spark's `avg(DECIMAL(12,2))` -> DECIMAL(16,6):
    * half-up integer division at scale 6, emitted as double.
    */
  private def avg6(c: String): String =
    s"CAST((2 * CAST(CAST(SUM($c) AS DECIMAL(18,2)) * 100 AS HUGEINT) * 10000" +
      s" + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0"

  /** Exact mirror of Spark's decimal division of two scale-4 sums
    * (rounded half-up at scale 6): `mul * num / den` as double.
    */
  private def ratio6(num: String, den: String, mul: Long): String = {
    def h(x: String) = s"CAST(CAST(($x) AS DECIMAL(18,4)) * 10000 AS HUGEINT)"
    s"CAST((2 * ${h(num)} * ${mul * 1000000L} + ${h(den)})" +
      s" // (2 * ${h(den)}) AS DOUBLE) / 1000000.0"
  }

  // ----------------------------------------------------------------
  // Per-query oracles (DuckDB dialect; date arithmetic constant-folded,
  // names matching the gate renames).
  // ----------------------------------------------------------------
  private val o01 = o(
    s"""SELECT l.returnflag, l.linestatus,
       |  CAST(SUM(l.quantity) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(l.extendedprice) AS DOUBLE) AS sum_base_price,
       |  CAST(SUM(l.extendedprice * (1 - l.discount)) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(l.extendedprice * (1 - l.discount) * (1 + l.tax)) AS DOUBLE) AS sum_charge,
       |  ${avg6("l.quantity")} AS avg_qty,
       |  ${avg6("l.extendedprice")} AS avg_price,
       |  ${avg6("l.discount")} AS avg_disc,
       |  count(*) AS count_order
       |FROM t_lineitem l
       |WHERE l.shipdate <= DATE '1998-09-02'
       |GROUP BY l.returnflag, l.linestatus
       |ORDER BY l.returnflag, l.linestatus""".stripMargin)

  private val o02 = o(
    """SELECT CAST(s.acctbal AS DOUBLE) AS s_acctbal, s.name AS s_name,
      |  n.name AS n_name, p.partkey AS p_partkey, p.mfgr AS p_mfgr,
      |  s.address AS s_address, s.phone AS s_phone, s.comment AS s_comment
      |FROM t_part p, t_supplier s, t_partsupp ps, t_nation n, t_region r
      |WHERE p.partkey = ps.partkey AND s.suppkey = ps.suppkey
      |  AND p.size = 15 AND p.type LIKE '%BRASS'
      |  AND s.nationkey = n.nationkey AND n.regionkey = r.regionkey
      |  AND r.name = 'EUROPE'
      |  AND ps.supplycost = (
      |    SELECT min(ps2.supplycost)
      |    FROM t_partsupp ps2, t_supplier s2, t_nation n2, t_region r2
      |    WHERE p.partkey = ps2.partkey AND s2.suppkey = ps2.suppkey
      |      AND s2.nationkey = n2.nationkey AND n2.regionkey = r2.regionkey
      |      AND r2.name = 'EUROPE')
      |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      |LIMIT 100""".stripMargin)

  private val o03 = o(
    """SELECT l.orderkey,
      |  CAST(SUM(l.extendedprice * (1 - l.discount)) AS DOUBLE) AS revenue,
      |  o.orderdate, o.shippriority
      |FROM t_customer c, t_orders o, t_lineitem l
      |WHERE c.mktsegment = 'BUILDING' AND c.custkey = o.custkey
      |  AND l.orderkey = o.orderkey
      |  AND o.orderdate < DATE '1995-03-15' AND l.shipdate > DATE '1995-03-15'
      |GROUP BY l.orderkey, o.orderdate, o.shippriority
      |ORDER BY revenue DESC, o.orderdate
      |LIMIT 10""".stripMargin)

  private val o04 = o(
    """SELECT o.orderpriority, count(*) AS order_count
      |FROM t_orders o
      |WHERE o.orderdate >= DATE '1993-07-01' AND o.orderdate < DATE '1993-10-01'
      |  AND EXISTS (
      |    SELECT 1 FROM t_lineitem l
      |    WHERE l.orderkey = o.orderkey AND l.commitdate < l.receiptdate)
      |GROUP BY o.orderpriority
      |ORDER BY o.orderpriority""".stripMargin)

  private val o05 = o(
    """SELECT n.name,
      |  CAST(SUM(l.extendedprice * (1 - l.discount)) AS DOUBLE) AS revenue
      |FROM t_customer c, t_orders o, t_lineitem l, t_supplier s, t_nation n, t_region r
      |WHERE c.custkey = o.custkey AND l.orderkey = o.orderkey
      |  AND l.suppkey = s.suppkey AND c.nationkey = s.nationkey
      |  AND s.nationkey = n.nationkey AND n.regionkey = r.regionkey
      |  AND r.name = 'ASIA'
      |  AND o.orderdate >= DATE '1994-01-01' AND o.orderdate < DATE '1995-01-01'
      |GROUP BY n.name
      |ORDER BY revenue DESC""".stripMargin)

  private val o06 = o(
    """SELECT CAST(SUM(l.extendedprice * l.discount) AS DOUBLE) AS revenue
      |FROM t_lineitem l
      |WHERE l.shipdate >= DATE '1994-01-01' AND l.shipdate < DATE '1995-01-01'
      |  AND l.discount BETWEEN 0.05 AND 0.07 AND l.quantity < 24""".stripMargin)

  private val o07 = o(
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.name AS supp_nation, n2.name AS cust_nation,
      |    extract(YEAR FROM l.shipdate) AS l_year,
      |    l.extendedprice * (1 - l.discount) AS volume
      |  FROM t_supplier s, t_lineitem l, t_orders o, t_customer c,
      |    t_nation n1, t_nation n2
      |  WHERE s.suppkey = l.suppkey AND o.orderkey = l.orderkey
      |    AND c.custkey = o.custkey AND s.nationkey = n1.nationkey
      |    AND c.nationkey = n2.nationkey
      |    AND ((n1.name = 'FRANCE' AND n2.name = 'GERMANY')
      |      OR (n1.name = 'GERMANY' AND n2.name = 'FRANCE'))
      |    AND l.shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
      |) shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)

  private val o08 = o(
    s"""SELECT o_year,
       |  ${ratio6("SUM(CASE WHEN nation = 'BRAZIL' THEN volume ELSE 0 END)", "SUM(volume)", 1)} AS mkt_share
       |FROM (
       |  SELECT extract(YEAR FROM o.orderdate) AS o_year,
       |    l.extendedprice * (1 - l.discount) AS volume,
       |    n2.name AS nation
       |  FROM t_part p, t_supplier s, t_lineitem l, t_orders o, t_customer c,
       |    t_nation n1, t_nation n2, t_region r
       |  WHERE p.partkey = l.partkey AND s.suppkey = l.suppkey
       |    AND l.orderkey = o.orderkey AND o.custkey = c.custkey
       |    AND c.nationkey = n1.nationkey AND n1.regionkey = r.regionkey
       |    AND r.name = 'AMERICA' AND s.nationkey = n2.nationkey
       |    AND o.orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
       |    AND p.type = 'ECONOMY ANODIZED STEEL'
       |) all_nations
       |GROUP BY o_year
       |ORDER BY o_year""".stripMargin)

  private val o09 = o(
    """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n.name AS nation, extract(YEAR FROM o.orderdate) AS o_year,
      |    l.extendedprice * (1 - l.discount) - ps.supplycost * l.quantity AS amount
      |  FROM t_part p, t_supplier s, t_lineitem l, t_partsupp ps,
      |    t_orders o, t_nation n
      |  WHERE s.suppkey = l.suppkey AND ps.suppkey = l.suppkey
      |    AND ps.partkey = l.partkey AND p.partkey = l.partkey
      |    AND o.orderkey = l.orderkey AND s.nationkey = n.nationkey
      |    AND p.name LIKE '%green%'
      |) profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin)

  private val o10 = o(
    """SELECT c.custkey, c.name AS c_name,
      |  CAST(SUM(l.extendedprice * (1 - l.discount)) AS DOUBLE) AS revenue,
      |  CAST(c.acctbal AS DOUBLE) AS acctbal, n.name AS n_name,
      |  c.address, c.phone, c.comment
      |FROM t_lineitem l, t_orders o, t_customer c, t_nation n
      |WHERE c.custkey = o.custkey AND l.orderkey = o.orderkey
      |  AND o.orderdate >= DATE '1993-10-01' AND o.orderdate < DATE '1994-01-01'
      |  AND l.returnflag = 'R' AND c.nationkey = n.nationkey
      |GROUP BY c.custkey, c.name, c.acctbal, c.phone, n.name, c.address, c.comment
      |ORDER BY revenue DESC
      |LIMIT 20""".stripMargin)

  private val o11 = o(
    """SELECT ps.partkey,
      |  CAST(SUM(ps.supplycost * ps.availqty) AS DOUBLE) AS value
      |FROM t_partsupp ps, t_supplier s, t_nation n
      |WHERE ps.suppkey = s.suppkey AND s.nationkey = n.nationkey
      |  AND n.name = 'GERMANY'
      |GROUP BY ps.partkey
      |HAVING SUM(ps.supplycost * ps.availqty) > (
      |  SELECT CAST(SUM(ps2.supplycost * ps2.availqty) AS DECIMAL(20,2))
      |    * CAST(0.0001 AS DECIMAL(5,4))
      |  FROM t_partsupp ps2, t_supplier s2, t_nation n2
      |  WHERE ps2.suppkey = s2.suppkey AND s2.nationkey = n2.nationkey
      |    AND n2.name = 'GERMANY')
      |ORDER BY value DESC""".stripMargin)

  private val o12 = o(
    """SELECT l.shipmode,
      |  CAST(SUM(CASE WHEN o.orderpriority = '1-URGENT'
      |    OR o.orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o.orderpriority <> '1-URGENT'
      |    AND o.orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM t_orders o, t_lineitem l
      |WHERE o.orderkey = l.orderkey AND l.shipmode IN ('MAIL', 'SHIP')
      |  AND l.commitdate < l.receiptdate AND l.shipdate < l.commitdate
      |  AND l.receiptdate >= DATE '1994-01-01' AND l.receiptdate < DATE '1995-01-01'
      |GROUP BY l.shipmode
      |ORDER BY l.shipmode""".stripMargin)

  private val o13 = o(
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c.custkey AS c_custkey, count(o.orderkey) AS c_count
      |  FROM t_customer c LEFT OUTER JOIN t_orders o
      |    ON c.custkey = o.custkey AND o.comment NOT LIKE '%special%requests%'
      |  GROUP BY c.custkey
      |) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin)

  private val o14 = o(
    s"""SELECT ${ratio6(
        "SUM(CASE WHEN p.type LIKE 'PROMO%' THEN l.extendedprice * (1 - l.discount) ELSE 0 END)",
        "SUM(l.extendedprice * (1 - l.discount))", 100)} AS promo_revenue
       |FROM t_lineitem l, t_part p
       |WHERE l.partkey = p.partkey
       |  AND l.shipdate >= DATE '1995-09-01' AND l.shipdate < DATE '1995-10-01'""".stripMargin)

  private val o15 = o(
    """SELECT s.suppkey, s.name, s.address, s.phone,
      |  CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM t_supplier s, revenue0
      |WHERE s.suppkey = supplier_no
      |  AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
      |ORDER BY s.suppkey""".stripMargin,
    extra =
      """revenue0 AS (
        |  SELECT l.suppkey AS supplier_no,
        |    SUM(l.extendedprice * (1 - l.discount)) AS total_revenue
        |  FROM t_lineitem l
        |  WHERE l.shipdate >= DATE '1996-01-01' AND l.shipdate < DATE '1996-04-01'
        |  GROUP BY l.suppkey)""".stripMargin)

  private val o16 = o(
    """SELECT p.brand, p.type, p.size,
      |  count(DISTINCT ps.suppkey) AS supplier_cnt
      |FROM t_partsupp ps, t_part p
      |WHERE p.partkey = ps.partkey AND p.brand <> 'Brand#45'
      |  AND p.type NOT LIKE 'MEDIUM POLISHED%'
      |  AND p.size IN (49, 14, 23, 45, 19, 3, 36, 9)
      |  AND ps.suppkey NOT IN (
      |    SELECT s.suppkey FROM t_supplier s
      |    WHERE s.comment LIKE '%Customer%Complaints%')
      |GROUP BY p.brand, p.type, p.size
      |ORDER BY supplier_cnt DESC, p.brand, p.type, p.size""".stripMargin)

  private val o17 = o(
    """SELECT CAST((2 * CAST(CAST(SUM(l.extendedprice) AS DECIMAL(18,2)) * 100 AS HUGEINT) * 10000 + 7)
      |    // 14 AS DOUBLE) / 1000000.0 AS avg_yearly
      |FROM t_lineitem l, t_part p
      |WHERE p.partkey = l.partkey AND p.brand = 'Brand#23'
      |  AND p.container = 'MED BOX'
      |  AND CAST(l.quantity * 100 AS HUGEINT) * 100000 < 2 * (
      |    SELECT (2 * CAST(CAST(SUM(l2.quantity) AS DECIMAL(18,2)) * 100 AS HUGEINT) * 10000
      |      + COUNT(*)) // (2 * COUNT(*))
      |    FROM t_lineitem l2 WHERE l2.partkey = p.partkey)""".stripMargin)

  private val o18 = o(
    """SELECT c.name, c.custkey, o.orderkey, o.orderdate,
      |  CAST(o.totalprice AS DOUBLE) AS totalprice,
      |  CAST(SUM(l.quantity) AS DOUBLE) AS sum_qty
      |FROM t_customer c, t_orders o, t_lineitem l
      |WHERE o.orderkey IN (
      |    SELECT l2.orderkey FROM t_lineitem l2
      |    GROUP BY l2.orderkey HAVING SUM(l2.quantity) > 300)
      |  AND c.custkey = o.custkey AND o.orderkey = l.orderkey
      |GROUP BY c.name, c.custkey, o.orderkey, o.orderdate, o.totalprice
      |ORDER BY o.totalprice DESC, o.orderdate
      |LIMIT 100""".stripMargin)

  private val o19 = o(
    """SELECT CAST(SUM(l.extendedprice * (1 - l.discount)) AS DOUBLE) AS revenue
      |FROM t_lineitem l, t_part p
      |WHERE p.partkey = l.partkey AND (
      |  (p.brand = 'Brand#12'
      |   AND p.container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
      |   AND l.quantity >= 1 AND l.quantity <= 11 AND p.size BETWEEN 1 AND 5
      |   AND l.shipmode IN ('AIR', 'AIR REG')
      |   AND l.shipinstruct = 'DELIVER IN PERSON')
      |  OR (p.brand = 'Brand#23'
      |   AND p.container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
      |   AND l.quantity >= 10 AND l.quantity <= 20 AND p.size BETWEEN 1 AND 10
      |   AND l.shipmode IN ('AIR', 'AIR REG')
      |   AND l.shipinstruct = 'DELIVER IN PERSON')
      |  OR (p.brand = 'Brand#34'
      |   AND p.container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
      |   AND l.quantity >= 20 AND l.quantity <= 30 AND p.size BETWEEN 1 AND 15
      |   AND l.shipmode IN ('AIR', 'AIR REG')
      |   AND l.shipinstruct = 'DELIVER IN PERSON'))""".stripMargin)

  private val o20 = o(
    """SELECT s.name, s.address
      |FROM t_supplier s, t_nation n
      |WHERE s.suppkey IN (
      |  SELECT ps.suppkey FROM t_partsupp ps
      |  WHERE ps.partkey IN (
      |      SELECT p.partkey FROM t_part p WHERE p.name LIKE 'forest%')
      |    AND ps.availqty > (
      |      SELECT 0.5 * CAST(SUM(l.quantity) AS DECIMAL(18,2))
      |      FROM t_lineitem l
      |      WHERE l.partkey = ps.partkey AND l.suppkey = ps.suppkey
      |        AND l.shipdate >= DATE '1994-01-01'
      |        AND l.shipdate < DATE '1995-01-01'))
      |  AND s.nationkey = n.nationkey AND n.name = 'CANADA'
      |ORDER BY s.name""".stripMargin)

  private val o21 = o(
    """SELECT s.name, count(*) AS numwait
      |FROM t_supplier s, t_lineitem l1, t_orders o, t_nation n
      |WHERE s.suppkey = l1.suppkey AND o.orderkey = l1.orderkey
      |  AND o.orderstatus = 'F' AND l1.receiptdate > l1.commitdate
      |  AND EXISTS (
      |    SELECT 1 FROM t_lineitem l2
      |    WHERE l2.orderkey = l1.orderkey AND l2.suppkey <> l1.suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM t_lineitem l3
      |    WHERE l3.orderkey = l1.orderkey AND l3.suppkey <> l1.suppkey
      |      AND l3.receiptdate > l3.commitdate)
      |  AND s.nationkey = n.nationkey AND n.name = 'SAUDI ARABIA'
      |GROUP BY s.name
      |ORDER BY numwait DESC, s.name
      |LIMIT 100""".stripMargin)

  private val o22 = o(
    """SELECT cntrycode, count(*) AS numcust,
      |  CAST(SUM(acctbal) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT substr(c.phone, 1, 2) AS cntrycode, c.acctbal AS acctbal
      |  FROM t_customer c
      |  WHERE substr(c.phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17')
      |    AND CAST(c.acctbal * 100 AS HUGEINT) * 10000 > (
      |      SELECT (2 * CAST(CAST(SUM(c2.acctbal) AS DECIMAL(18,2)) * 100 AS HUGEINT) * 10000
      |        + COUNT(*)) // (2 * COUNT(*))
      |      FROM t_customer c2
      |      WHERE c2.acctbal > 0.00
      |        AND substr(c2.phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
      |    AND NOT EXISTS (
      |      SELECT 1 FROM t_orders o WHERE o.custkey = c.custkey)
      |) custsale
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin)

  // ----------------------------------------------------------------
  private val entries: Seq[(String, Seq[String], String)] = Seq(
    ("q01", Seq("returnflag", "linestatus", "sum_qty", "sum_base_price",
      "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc",
      "count_order"), o01),
    ("q02", Seq("s_acctbal", "s_name", "n_name", "p_partkey", "p_mfgr",
      "s_address", "s_phone", "s_comment"), o02),
    ("q03", Seq("orderkey", "revenue", "orderdate", "shippriority"), o03),
    ("q04", Seq("orderpriority", "order_count"), o04),
    ("q05", Seq("name", "revenue"), o05),
    ("q06", Seq("revenue"), o06),
    ("q07", Seq("supp_nation", "cust_nation", "l_year", "revenue"), o07),
    ("q08", Seq("o_year", "mkt_share"), o08),
    ("q09", Seq("nation", "o_year", "sum_profit"), o09),
    ("q10", Seq("custkey", "c_name", "revenue", "acctbal", "n_name",
      "address", "phone", "comment"), o10),
    ("q11", Seq("partkey", "value"), o11),
    ("q12", Seq("shipmode", "high_line_count", "low_line_count"), o12),
    ("q13", Seq("c_count", "custdist"), o13),
    ("q14", Seq("promo_revenue"), o14),
    ("q15", Seq("suppkey", "name", "address", "phone", "total_revenue"), o15),
    ("q16", Seq("brand", "type", "size", "supplier_cnt"), o16),
    ("q17", Seq("avg_yearly"), o17),
    ("q18", Seq("name", "custkey", "orderkey", "orderdate", "totalprice",
      "sum_qty"), o18),
    ("q19", Seq("revenue"), o19),
    ("q20", Seq("name", "address"), o20),
    ("q21", Seq("name", "numwait"), o21),
    ("q22", Seq("cntrycode", "numcust", "totacctbal"), o22))

  def all: Seq[Q] = entries.map { case (name, renames, oracle) =>
    Q(s"corpus_tpch_$name", gate(name, renames), Some(oracle),
      s"verbatim reference file queries/tpch/$name.sql via corpus views")
  }
}
