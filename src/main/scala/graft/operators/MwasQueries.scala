package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.StatFunctions.log2FoldChange
import graft.functions.WelchTTest.welch_t
import graft.stats.{Obs, PermutationTest}

/** MWAS-shaped statistical queries over the testdata (SURVEY §2.1 Q22/Q23).
  *
  * The reference's hypothesis-test loop (main/mwas_general.py:344-449) maps
  * to: conditional aggregates → sufficient statistics → scalar Welch
  * expression. The whole contrast is ONE shuffle (the groupBy); no
  * per-group driver loops, which is what makes the same plan viable at
  * 100 TB.
  */
object MwasQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Q22 — the `process_bioproject` shape: normalize + two-level aggregate
    * (reference main/mwas_general.py:470-518). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val rpmDf = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey").as("grp"), col("l_suppkey").as("biosample"))
      .agg((sum("l_quantity") / greatest(sum("l_extendedprice"), lit(1.0)) *
        lit(1e6)).as("rpm"))
    rpmDf.groupBy(col("grp"))
      .agg(
        count(lit(1)).as("n"),
        avg("rpm").as("mean_rpm"),
        stddev_pop(col("rpm")).as("sd_rpm"))
      .orderBy(col("grp"))
      .limit(100)
  }

  val q22Sql: String =
    """WITH rpm AS (
      |  SELECT o_custkey AS grp, l_suppkey AS biosample,
      |    sum(l_quantity)/greatest(sum(l_extendedprice),1)*1e6 AS rpm
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  GROUP BY o_custkey, l_suppkey)
      |SELECT grp, count(*) AS n, avg(rpm) AS mean_rpm,
      |  stddev_pop(rpm) AS sd_rpm
      |FROM rpm GROUP BY grp ORDER BY grp LIMIT 100""".stripMargin

  /** Q23 — the MWAS contrast: true/false partition of l_quantity by
    * `l_returnflag = 'R'` per (l_suppkey % 50) bucket, Welch t from
    * sufficient statistics (reference main/mwas_general.py:374-412).
    * The DuckDB oracle computes the identical closed form from
    * avg/stddev_samp/count, so t and df hash-match; the t-CDF p-value has no
    * SQL equivalent and lives in q23_full (rows-only). */
  def q23(s: SparkSession, dir: String): DataFrame =
    welchContrast(s, dir).select(
      col("bucket"), col("n_t"), col("n_f"), col("m_t"), col("m_f"),
      col("w.t").as("t"), col("w.df").as("df"))
      .orderBy(col("bucket"))

  private def welchContrast(s: SparkSession, dir: String): DataFrame = {
    val flag = col("l_returnflag") === "R"
    t(s, dir, "lineitem")
      .groupBy((col("l_suppkey") % 50).as("bucket"))
      .agg(
        count(when(flag, 1)).as("n_t"),
        count(when(!flag, 1)).as("n_f"),
        avg(when(flag, col("l_quantity"))).as("m_t"),
        avg(when(!flag, col("l_quantity"))).as("m_f"),
        stddev_samp(when(flag, col("l_quantity"))).as("s_t"),
        stddev_samp(when(!flag, col("l_quantity"))).as("s_f"))
      .withColumn("w", welch_t(col("m_t"), col("s_t"), col("n_t").cast("double"),
        col("m_f"), col("s_f"), col("n_f").cast("double")))
  }

  val q23Sql: String =
    """WITH s AS (
      |  SELECT l_suppkey % 50 AS bucket,
      |    count(*) FILTER (WHERE l_returnflag = 'R') AS n_t,
      |    count(*) FILTER (WHERE l_returnflag <> 'R') AS n_f,
      |    avg(l_quantity) FILTER (WHERE l_returnflag = 'R') AS m_t,
      |    avg(l_quantity) FILTER (WHERE l_returnflag <> 'R') AS m_f,
      |    stddev_samp(l_quantity) FILTER (WHERE l_returnflag = 'R') AS s_t,
      |    stddev_samp(l_quantity) FILTER (WHERE l_returnflag <> 'R') AS s_f
      |  FROM lineitem GROUP BY 1)
      |SELECT bucket, n_t, n_f, m_t, m_f,
      |  (m_t - m_f) / sqrt(s_t*s_t/n_t + s_f*s_f/n_f) AS t,
      |  pow(s_t*s_t/n_t + s_f*s_f/n_f, 2) /
      |    (pow(s_t*s_t/n_t, 2)/(n_t-1) + pow(s_f*s_f/n_f, 2)/(n_f-1)) AS df
      |FROM s ORDER BY bucket""".stripMargin

  /** Q23 full — adds the t-CDF p-value and the reference's log2 fold change
    * sentinels (main/mwas_general.py:325-336). Fully oracled since round 9:
    * the p-value's DuckDB side is the regularized-incomplete-beta continued
    * fraction ([[TCdfSql]]) — both engines compute the same special
    * function independently, agreeing to ≤ 1e-11 absolute on this data. */
  def q23Full(s: SparkSession, dir: String): DataFrame =
    welchContrast(s, dir).select(
      col("bucket"), col("n_t"), col("n_f"),
      col("w.t").as("t"), col("w.df").as("df"), col("w.p").as("p"),
      log2FoldChange(col("m_t"), col("m_f")).as("log2_fc"))
      .orderBy(col("bucket"))

  val q23FullSql: String =
    s"""WITH RECURSIVE s AS (
       |  SELECT l_suppkey % 50 AS bucket,
       |    count(*) FILTER (WHERE l_returnflag = 'R') AS n_t,
       |    count(*) FILTER (WHERE l_returnflag <> 'R') AS n_f,
       |    avg(l_quantity) FILTER (WHERE l_returnflag = 'R') AS m_t,
       |    avg(l_quantity) FILTER (WHERE l_returnflag <> 'R') AS m_f,
       |    stddev_samp(l_quantity) FILTER (WHERE l_returnflag = 'R') AS s_t,
       |    stddev_samp(l_quantity) FILTER (WHERE l_returnflag <> 'R') AS s_f
       |  FROM lineitem GROUP BY 1),
       |s2 AS (
       |  -- WelchTTest.compute mirrored, including the r9 zero-variance
       |  -- semantics (scipy: df pinned to 1, t = +-inf, p = 0 when the
       |  -- means differ; nan when they agree); NULL sd (a side with < 2
       |  -- rows) still yields NULL t/df like compute's null inputs
       |  SELECT bucket, n_t, n_f, m_t, m_f,
       |    CASE WHEN (s_t*s_t/n_t + s_f*s_f/n_f) > 0
       |         THEN (m_t - m_f) / sqrt(s_t*s_t/n_t + s_f*s_f/n_f)
       |         WHEN (s_t*s_t/n_t + s_f*s_f/n_f) = 0 AND m_t > m_f
       |         THEN CAST('infinity' AS DOUBLE)
       |         WHEN (s_t*s_t/n_t + s_f*s_f/n_f) = 0 AND m_t < m_f
       |         THEN CAST('-infinity' AS DOUBLE)
       |         WHEN (s_t*s_t/n_t + s_f*s_f/n_f) = 0
       |         THEN CAST('nan' AS DOUBLE) END AS t,
       |    CASE WHEN (s_t*s_t/n_t + s_f*s_f/n_f) > 0
       |         THEN pow(s_t*s_t/n_t + s_f*s_f/n_f, 2) /
       |              (pow(s_t*s_t/n_t, 2)/(n_t-1)
       |               + pow(s_f*s_f/n_f, 2)/(n_f-1))
       |         WHEN (s_t*s_t/n_t + s_f*s_f/n_f) = 0
       |         THEN CAST(1.0 AS DOUBLE) END AS df
       |  FROM s),
       |tdf_in AS (
       |  SELECT bucket, CASE WHEN isfinite(t) THEN t END AS t, df FROM s2),
       |${TCdfSql.fragment(Seq("bucket"))}
       |SELECT s2.bucket, s2.n_t, s2.n_f, s2.t, s2.df,
       |  CASE WHEN isinf(s2.t) THEN CAST(0.0 AS DOUBLE)
       |       WHEN isnan(s2.t) THEN CAST('nan' AS DOUBLE)
       |       ELSE tp.p_cf END AS p,
       |  CASE WHEN s2.m_t = 0 AND s2.m_f = 0 THEN CAST(0.0 AS DOUBLE)
       |       WHEN s2.m_f = 0 THEN CAST('infinity' AS DOUBLE)
       |       WHEN s2.m_t = 0 THEN CAST('-infinity' AS DOUBLE)
       |       ELSE log2(s2.m_t/s2.m_f) END AS log2_fc
       |FROM s2 LEFT JOIN tcdf_p tp USING (bucket)
       |ORDER BY s2.bucket""".stripMargin

  /** Permutation test over small contrast groups (reference routes big
    * groups to permutation with 10k resamples, main/mwas_general.py:404-419;
    * here group sizes ~10 keep the EXACT-enumeration path deterministic).
    * Rows-only (no SQL equivalent); PermutationTestSpec brute-forces the
    * oracle in Scala. */
  def q23Perm(s: SparkSession, dir: String): DataFrame = {
    val permUdaf = udaf(new PermutationTest(), Encoders.product[Obs])
    t(s, dir, "orders")
      .filter(col("o_custkey") < 40)
      .select(col("o_custkey"), col("o_totalprice").as("value"),
        (col("o_orderpriority") === "1-URGENT").as("isTrue"))
      .groupBy(col("o_custkey"))
      .agg(permUdaf(col("value"), col("isTrue")).as("r"))
      .select(col("o_custkey"), col("r.statistic").as("stat"),
        col("r.p_value").as("p"), col("r.method").as("method"),
        col("r.n_true").as("n_true"), col("r.n_false").as("n_false"))
      .orderBy(col("o_custkey"))
  }

  /** Exact-enumeration permutation test, hash-oracled BIT-EXACTLY in
    * DuckDB (r10 verdict item 2). Two design moves make cross-engine
    * bit-equality possible where FP aggregation order normally forbids it:
    *
    *   1. INTEGER-VALUED observations: `round(o_totalprice)` sums are
    *      exact in binary doubles (≤10 values < 2²⁰ each), so every
    *      side-sum, mean and mean-difference is the same double in any
    *      summation order — Spark's partition-order UDAF buffer and
    *      DuckDB's scan-order sum cannot disagree.
    *   2. BOUNDED groups: a per-customer row_number cap of 10 keeps
    *      C(n, n_true) ≤ 252, far under [[graft.stats.PermutationTest]]'s
    *      exact cutoff — the Monte-Carlo path (whose seeded RNG stream no
    *      SQL engine can replay) is unreachable by construction, and the
    *      DuckDB side can afford full subset enumeration (bitmask walk,
    *      ≤2¹⁰ masks/group).
    *
    * Both sides apply the same ≥2-per-side filter the test requires, and
    * the oracle replicates the implementation's epsilon band
    * (|diff| ≥ |obs| − 1e-12·max(1, |obs|)) on identical doubles, so
    * statistic, p-value, method and side counts all hash-match. This
    * leaves only genuinely randomized operators (MC permutation, HLL,
    * percentile sketches) as no-oracle rows. */
  /** The exact-enumeration domain (capped, ≥2-per-side groups) shared by
    * [[q23PermExact]] and ToleranceSpec's MC-vs-exact gate (VERDICT r13
    * item 5): the spec forces the Monte-Carlo path on EXACTLY these
    * groups, so the two paths are compared on identical data with no
    * copied filter logic to drift. */
  private[operators] def q23PermExactBase(s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = t(s, dir, "orders")
      .filter(col("o_custkey") < 60)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice")).cast("double").as("value"),
        (col("o_orderpriority") === "1-URGENT").as("isTrue"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))))
      .filter(col("rn") <= 10)
    val cw = Window.partitionBy(col("o_custkey"))
    base
      .withColumn("n_t", sum(when(col("isTrue"), 1L).otherwise(0L)).over(cw))
      .withColumn("n", count(lit(1)).over(cw))
      .filter(col("n_t") >= 2 && col("n") - col("n_t") >= 2)
      .select(col("o_custkey"), col("value"), col("isTrue"))
  }

  def q23PermExact(s: SparkSession, dir: String): DataFrame = {
    val permUdaf = udaf(new PermutationTest(), Encoders.product[Obs])
    q23PermExactBase(s, dir)
      .groupBy(col("o_custkey"))
      .agg(permUdaf(col("value"), col("isTrue")).as("r"))
      .select(col("o_custkey"), col("r.statistic").as("stat"),
        col("r.p_value").as("p"), col("r.method").as("method"),
        col("r.n_true").as("n_true"), col("r.n_false").as("n_false"))
      .orderBy(col("o_custkey"))
  }

  /** Full C(n, k) enumeration as a bitmask walk: every mask of the right
    * popcount is one label assignment; only the chosen side's sum matters
    * (diff = s/n_t − (total−s)/n_f), mirroring the Scala walk exactly. */
  val q23PermExactSql: String =
    """WITH base AS (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(round(o_totalprice) AS DOUBLE) AS v,
      |    (o_orderpriority = '1-URGENT') AS is_t,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderkey) AS rn
      |  FROM orders WHERE o_custkey < 60),
      |g0 AS (SELECT * FROM base WHERE rn <= 10),
      |sz AS (SELECT o_custkey, count(*) AS n,
      |         count(*) FILTER (WHERE is_t) AS n_t,
      |         sum(v) AS total,
      |         sum(v) FILTER (WHERE is_t) AS sum_t
      |       FROM g0 GROUP BY 1
      |       HAVING count(*) FILTER (WHERE is_t) >= 2
      |          AND count(*) - count(*) FILTER (WHERE is_t) >= 2),
      |g AS (SELECT g0.o_custkey, g0.v,
      |        row_number() OVER (PARTITION BY g0.o_custkey
      |          ORDER BY g0.rn) - 1 AS idx
      |      FROM g0 JOIN sz USING (o_custkey)),
      |obs AS (SELECT o_custkey, n, n_t, n - n_t AS n_f, total,
      |         sum_t / n_t - (total - sum_t) / (n - n_t) AS obs_diff
      |        FROM sz),
      |m AS (SELECT range AS mask FROM range(0, 1024)),
      |masks AS (SELECT o.o_custkey, m.mask
      |          FROM obs o JOIN m ON m.mask < (1 << o.n)
      |          WHERE bit_count(m.mask) = o.n_t),
      |msum AS (SELECT mk.o_custkey, mk.mask, sum(g.v) AS s
      |         FROM masks mk JOIN g ON g.o_custkey = mk.o_custkey
      |           AND ((mk.mask >> g.idx) & 1) = 1
      |         GROUP BY 1, 2),
      |hits AS (SELECT ms.o_custkey, count(*) AS cnt,
      |          count(*) FILTER (WHERE
      |            abs(ms.s / o.n_t - (o.total - ms.s) / o.n_f)
      |              >= abs(o.obs_diff)
      |                 - 1e-12 * greatest(1.0, abs(o.obs_diff))) AS h
      |         FROM msum ms JOIN obs o USING (o_custkey) GROUP BY 1)
      |SELECT o.o_custkey, o.obs_diff AS stat,
      |  CAST(h.h AS DOUBLE) / h.cnt AS p,
      |  'permutation_exact' AS method,
      |  CAST(o.n_t AS BIGINT) AS n_true, CAST(o.n_f AS BIGINT) AS n_false
      |FROM obs o JOIN hits h USING (o_custkey)
      |ORDER BY o.o_custkey""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("q22_mwas_rpm", q22 _, Some(q22Sql)),
      ("q23_welch", q23 _, Some(q23Sql)),
      ("q23_welch_full", q23Full _, Some(q23FullSql)),
      ("q23_permutation", q23Perm _, None),
      ("q23_permutation_exact", q23PermExact _, Some(q23PermExactSql)))
}
