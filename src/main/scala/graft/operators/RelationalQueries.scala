package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The declared relational capability queries (SURVEY.md §2.1 Q1–Q21).
  *
  * Each query is expressed with the declarative DataFrame API so Catalyst
  * handles predicate pushdown, column pruning and join-strategy selection;
  * `oracle` carries the equivalent ANSI SQL the driver runs in DuckDB.
  *
  * Conventions that keep the driver's hash-compare green:
  *   - every output column is aliased identically in both dialects;
  *   - Spark INT-returning functions (length, year, rank, ...) are cast to
  *     LONG because the DuckDB equivalents return BIGINT;
  *   - every query ends in a total ORDER BY;
  *   - ascending sorts put NULLS FIRST explicitly in the SQL text because
  *     Spark defaults to nulls-first while DuckDB defaults to nulls-last.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Q1 — scan + filter + hash aggregate (pushdown-friendly).
    * Semantics from the reference's descriptive-stats pass
    * (main/mwas_general.py:374-385). */
  def q1(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("s_qty"),
        sum("l_extendedprice").as("s_price"),
        avg("l_discount").as("a_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s_qty,
      | sum(l_extendedprice) AS s_price, avg(l_discount) AS a_disc,
      | count(*) AS n
      |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Q2 — range predicate + count (main/metadata_set_maker.py:61-63 shape). */
  def q2(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))

  val q2Sql: String =
    """SELECT o_orderpriority, count(*) AS n FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Q3 — multi-way equi join + aggregate. `nation` is broadcast (25 rows);
    * customer/orders/lineitem shuffle on their join keys and AQE picks
    * broadcast for the surviving small sides at low SF.
    *
    * `rev` sums exact 1e-4-grid products (2-dec × 2-dec) as BIGINT
    * units of the grid — `cents × (100 − discount·100)` — exact and
    * summation-order-independent on both engines, and identical to the
    * r8 DECIMAL sum it replaces (same mathematical value, same final
    * double; the r9 A/B measured the decimal agg at 2.0× the long one,
    * NOTES_r9 — decimal leaves the codegen long fast path).
    * The naive DOUBLE sum is neither: it drifted ~3e-7 between Spark's
    * partial aggs and DuckDB at sf0.01 — harmless until it straddles a
    * compare grid (bucketed_join hit that at sf0.1). Per-group overflow
    * bound: addend < 1e9 (price < 1e5 ⇒ cents < 1e7, × 100), so 2⁶³
    * holds sums to ~9.2e14 currency units per group — at ~100 TB
    * (≈24e9 lineitem rows per nation, avg price ~3.8e4) the sum is
    * ~8.6e14: inside the bound, but a 10× further scale-up of GROUP
    * SIZE needs a decimal fallback or a two-level sum. */
  def q3(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val n = t(s, dir, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg((sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
        .cast("double") / 1e4).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  val q3Sql: String =
    """SELECT n.n_name,
      |  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
      |    AS DOUBLE) / 1e4 AS rev
      |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY rev DESC, n.n_name""".stripMargin

  /** Q4 — semi join (reference `isin`, old/mwas_rfam.py:309). */
  def q4(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
      .limit(50)
  }

  val q4Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
      |ORDER BY c_custkey LIMIT 50""".stripMargin

  /** Q5 — anti join (reference `~isin`, main/mwas_general.py:662). */
  def q5(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))
      .limit(50)
  }

  val q5Sql: String =
    """SELECT c_custkey FROM customer
      |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      |ORDER BY c_custkey LIMIT 50""".stripMargin

  /** Q6 — left outer join (reference outer merge, main/mwas_general.py:576). */
  def q6(s: SparkSession, dir: String): DataFrame = {
    val r = t(s, dir, "region")
    val n = t(s, dir, "nation")
    r.join(n, r("r_regionkey") === n("n_regionkey"), "left_outer")
      .select(col("r_name"), col("n_name"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val q6Sql: String =
    """SELECT r_name, n_name FROM region
      |LEFT JOIN nation ON r_regionkey = n_regionkey
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  /** Q7 — equi join with residual filter (old/mwas_rfam.py:208-209). */
  def q7(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").filter(col("s_suppkey") < 10)
    val c = t(s, dir, "customer")
    sup.join(c, sup("s_nationkey") === c("c_nationkey"))
      .select(col("s_suppkey"), col("c_custkey"))
      .orderBy(col("s_suppkey"), col("c_custkey"))
      .limit(100)
  }

  val q7Sql: String =
    """SELECT s.s_suppkey, c.c_custkey FROM supplier s
      |JOIN customer c ON s.s_nationkey = c.c_nationkey
      |WHERE s.s_suppkey < 10
      |ORDER BY s.s_suppkey, c.c_custkey LIMIT 100""".stripMargin

  /** Q8 — theta join → BroadcastNestedLoopJoin after both sides are cut by
    * pushed-down filters (SURVEY J8; absent in the reference). */
  def q8(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").filter(col("s_suppkey") < 5)
    val c = t(s, dir, "customer").filter(col("c_custkey") < 200)
    sup.join(c, sup("s_acctbal") < c("c_acctbal"))
      .agg(count(lit(1)).as("n"))
  }

  val q8Sql: String =
    """SELECT count(*) AS n FROM supplier s JOIN customer c
      |ON s.s_acctbal < c.c_acctbal
      |WHERE s.s_suppkey < 5 AND c.c_custkey < 200""".stripMargin

  /** Q9 — distinct aggregate (reference nunique, old/mwas_rfam.py:266-273). */
  def q9(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("dp"), count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_custkey"))
      .limit(20)

  val q9Sql: String =
    """SELECT o_custkey, count(DISTINCT o_orderpriority) AS dp, count(*) AS n
      |FROM orders GROUP BY o_custkey ORDER BY n DESC, o_custkey LIMIT 20""".stripMargin

  /** Q10 — ROLLUP (Catalyst Expand; SURVEY A9). */
  def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("q"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("f"),
        coalesce(col("l_linestatus"), lit("ALL")).as("s"),
        col("q"))
      .orderBy(col("f"), col("s"))

  val q10Sql: String =
    """SELECT coalesce(l_returnflag,'ALL') AS f, coalesce(l_linestatus,'ALL') AS s,
      | sum(l_quantity) AS q
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY f, s""".stripMargin

  /** Q11 — CUBE + grouping() marker. */
  def q11(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("long").as("g1"),
        sum("l_quantity").as("q"))
      .select(col("l_returnflag"), col("l_linestatus"), col("g1"), col("q"))
      .orderBy(col("g1"), asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))

  val q11Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(GROUPING(l_returnflag) AS BIGINT) AS g1, sum(l_quantity) AS q
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g1, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Q12 — ranking windows (SURVEY W1). */
  def q12(s: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    val stable = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(byPrice).cast("long").as("rk"),
        row_number().over(stable).cast("long").as("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q12Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      | CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS BIGINT) AS rk,
      | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      |FROM orders WHERE o_custkey < 100 ORDER BY o_custkey, rn""".stripMargin

  /** Q13 — frame + analytic window (moving sum, lag). */
  def q13(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .filter(col("o_custkey") < 50)
      .select(
        col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
        sum(col("o_totalprice")).over(w.rowsBetween(-2, 0)).as("mv"),
        lag(col("o_totalprice"), 1).over(w).as("prev"))
      .orderBy(col("o_orderkey"))
  }

  val q13Sql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice,
      | sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mv,
      | lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      |FROM orders WHERE o_custkey < 50 ORDER BY o_orderkey""".stripMargin

  /** Q14 — HAVING + ordered top-k (TakeOrderedAndProject). */
  def q14(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_type"))
      .agg(avg("p_retailprice").as("ap"), count(lit(1)).as("cnt"))
      .filter(col("cnt") > 2)
      .select(col("p_type"), col("ap"))
      .orderBy(col("ap").desc, col("p_type"))
      .limit(10)

  val q14Sql: String =
    """SELECT p_type, avg(p_retailprice) AS ap FROM part
      |GROUP BY p_type HAVING count(*) > 2
      |ORDER BY ap DESC, p_type LIMIT 10""".stripMargin

  private def q15Sides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = t(s, dir, "customer").filter(col("c_nationkey") === 1)
      .select(col("c_custkey"))
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey").as("c_custkey"))
    (c, o)
  }

  /** Q15a/b/c — set operators (SURVEY W4/W5). */
  def q15a(s: SparkSession, dir: String): DataFrame = {
    val (c, o) = q15Sides(s, dir)
    c.union(o).distinct().orderBy(col("c_custkey")).limit(50)
  }

  def q15b(s: SparkSession, dir: String): DataFrame = {
    val (c, o) = q15Sides(s, dir)
    c.intersect(o).orderBy(col("c_custkey")).limit(50)
  }

  def q15c(s: SparkSession, dir: String): DataFrame = {
    val (c, o) = q15Sides(s, dir)
    c.except(o).orderBy(col("c_custkey")).limit(50)
  }

  private val q15Base =
    """SELECT c_custkey FROM customer WHERE c_nationkey = 1
      |%s
      |SELECT o_custkey FROM orders WHERE o_totalprice > 300000
      |ORDER BY c_custkey LIMIT 50""".stripMargin
  val q15aSql: String = q15Base.format("UNION")
  val q15bSql: String = q15Base.format("INTERSECT")
  val q15cSql: String = q15Base.format("EXCEPT")

  /** Q16 — string functions (SURVEY F6-F8). Top-50 on the raw unique
    * key first, computed columns after — same post-limit projection
    * discipline as q18 (the fns run on 50 rows, not the table). */
  def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
      .limit(50)
      .select(
        col("c_custkey"),
        upper(substring(col("c_name"), 1, 8)).as("u"),
        length(col("c_name")).cast("long").as("ln"),
        regexp_replace(col("c_mktsegment"), "AUTO", "auto").as("r"),
        concat_ws("-", col("c_name"), col("c_mktsegment")).as("cw"))

  val q16Sql: String =
    """SELECT c_custkey, upper(substr(c_name,1,8)) AS u,
      | length(c_name) AS ln, replace(c_mktsegment,'AUTO','auto') AS r,
      | concat_ws('-', c_name, c_mktsegment) AS cw
      |FROM customer ORDER BY c_custkey LIMIT 50""".stripMargin

  /** Q17 — date/time functions (SURVEY F10). Post-limit projection like
    * q16/q18: the date fns run on the 50 surviving rows. */
  def q17(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))
      .limit(50)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        date_add(col("o_orderdate"), 30).cast("timestamp").as("d30"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
          .cast("long").as("dd"))

  val q17Sql: String =
    """SELECT o_orderkey,
      | CAST(year(o_orderdate) AS BIGINT) AS y,
      | CAST(month(o_orderdate) AS BIGINT) AS m,
      | CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS d30,
      | date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS dd
      |FROM orders ORDER BY o_orderkey LIMIT 50""".stripMargin

  /** Q18 — math + conditional expressions (SURVEY F2/F13 shapes). */
  /** (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    * ORDER BY tiebreaks on the raw value columns to stay total across
    * engines.
    *
    * `chg` multiplies three 2-decimal quantities — the exact product lies
    * on the 1e-6 decimal grid, so round(·, 2) CAN hit an exact half-way
    * point, where Spark (shortest-decimal-repr HALF_UP) and DuckDB
    * (binary round) provably diverge — the etl_merge_upsert failure
    * class. Doing the arithmetic in DECIMAL on both sides keeps the
    * product exact and the HALF_UP round identical across engines. */
  def q18(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_quantity"))
      // top-50 BEFORE the computed columns: every sort key is a raw
      // column, so projecting first would evaluate the decimal product
      // on every row below the TakeOrderedAndProject (r9 plan audit
      // caught exactly that); projecting after the limit runs it on 50
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_quantity"))
      .limit(50)
      .select(col("l_orderkey"),
        round(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1) - col("l_discount").cast("decimal(3,2)")) *
          (lit(1) + col("l_tax").cast("decimal(3,2)")), 2)
          .cast("double").as("chg"),
        log2(greatest(col("l_quantity"), lit(1.0))).as("lg"),
        abs(col("l_discount") - 0.05).as("ab"),
        when(col("l_quantity") > 30, "big").otherwise("small").as("cls"))

  val q18Sql: String =
    """SELECT l_orderkey,
      | CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
      |   * (1 - CAST(l_discount AS DECIMAL(3,2)))
      |   * (1 + CAST(l_tax AS DECIMAL(3,2))), 2) AS DOUBLE) AS chg,
      | log2(greatest(l_quantity, 1)) AS lg,
      | abs(l_discount - 0.05) AS ab,
      | CASE WHEN l_quantity > 30 THEN 'big' ELSE 'small' END AS cls
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_discount, l_tax,
      | l_quantity
      |LIMIT 50""".stripMargin

  /** Q19 — array functions over grouped data (SURVEY F11). The array is
    * built, sorted, and then '; '-joined to a string on the way out: the
    * driver's pandas compare can't sort ARRAY cells. */
  def q19(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_custkey") < 30)
      .groupBy(col("o_custkey"))
      .agg(
        array_join(sort_array(collect_list(col("o_orderpriority"))), "; ")
          .as("ps"),
        size(collect_set(col("o_orderstatus"))).cast("long").as("ns"))
      .orderBy(col("o_custkey"))

  val q19Sql: String =
    """SELECT o_custkey,
      | array_to_string(list_sort(list(o_orderpriority)), '; ') AS ps,
      | count(DISTINCT o_orderstatus) AS ns
      |FROM orders WHERE o_custkey < 30 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Q20 — approx distinct (HLL++; SURVEY A10). No SQL oracle: DuckDB's
    * approx_count_distinct uses a different sketch, so the driver records the
    * rows-only check here; `q20_exact` is the hash-matched twin. */
  def q20(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(approx_count_distinct(col("o_custkey")).as("ad"))

  def q20Exact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("ad"))

  val q20ExactSql: String =
    "SELECT count(DISTINCT o_custkey) AS ad FROM orders"

  /** Q21 — statistical aggregates. `percentile` (exact, interpolating) is
    * used for the oracle-matched median; the sketch-based
    * `percentile_approx`/HLL pair lives in `q21_approx` (rows-only). */
  def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(
        stddev_samp(col("o_totalprice")).as("sd"),
        var_samp(col("o_totalprice")).as("vr"),
        percentile(col("o_totalprice"), lit(0.5)).as("med"))

  val q21Sql: String =
    """SELECT stddev_samp(o_totalprice) AS sd, var_samp(o_totalprice) AS vr,
      | quantile_cont(o_totalprice, 0.5) AS med FROM orders""".stripMargin

  def q21Approx(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("med"),
        approx_count_distinct(col("o_custkey")).as("ad"))

  /** name → (query fn, optional oracle SQL) for everything in this object. */
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("q1_agg", q1 _, Some(q1Sql)),
      ("q2_filter_count", q2 _, Some(q2Sql)),
      ("q3_join_revenue", q3 _, Some(q3Sql)),
      ("q4_semi_join", q4 _, Some(q4Sql)),
      ("q5_anti_join", q5 _, Some(q5Sql)),
      ("q6_outer_join", q6 _, Some(q6Sql)),
      ("q7_equi_residual", q7 _, Some(q7Sql)),
      ("q8_theta_join", q8 _, Some(q8Sql)),
      ("q9_distinct_agg", q9 _, Some(q9Sql)),
      ("q10_rollup", q10 _, Some(q10Sql)),
      ("q11_cube", q11 _, Some(q11Sql)),
      ("q12_rank_window", q12 _, Some(q12Sql)),
      ("q13_frame_window", q13 _, Some(q13Sql)),
      ("q14_having_topk", q14 _, Some(q14Sql)),
      ("q15a_union", q15a _, Some(q15aSql)),
      ("q15b_intersect", q15b _, Some(q15bSql)),
      ("q15c_except", q15c _, Some(q15cSql)),
      ("q16_string_fns", q16 _, Some(q16Sql)),
      ("q17_date_fns", q17 _, Some(q17Sql)),
      ("q18_math_case", q18 _, Some(q18Sql)),
      ("q19_array_fns", q19 _, Some(q19Sql)),
      ("q20_approx_distinct", q20 _, None),
      ("q20_exact_distinct", q20Exact _, Some(q20ExactSql)),
      ("q21_stat_aggs", q21 _, Some(q21Sql)),
      ("q21_approx_aggs", q21Approx _, None))
}
