package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl.MetadataCondenser
import graft.mwas.{MwasConfig, Pipeline}

/** The full MWAS engine driven by testdata-derived fixtures, so the
  * end-to-end plan (ETL condenser → pipeline → 18-col output) is exercised
  * and DuckDB-oracle-checkable on the driver's tables.
  *
  * Deterministic mapping (no synthesis, pure projections of testdata):
  *   catalog:  orders → run 'R<o_orderkey>', bio_sample 'BS<o_custkey>',
  *             bio_project 'BP<o_custkey % 20>', spots = o_totalprice
  *   input:    2/3 of runs (o_orderkey % 3 != 0 — the rest densify as
  *             implicit zeros), group = o_orderpriority,
  *             quantifier = l_quantity sum per order
  *   metadata: customer → attributes mktsegment, nation_bucket
  */
object MwasPipelineQueries {

  /** The committed reference-written `.mwaspkl` fixture corpus, resolved
    * without a machine-specific absolute path (r12 advisor): a
    * `graft.mwaspkl.dir` system property wins; otherwise the repo-relative
    * location against the JVM's working directory (the driver and sbt both
    * run from the repo root). */
  private[operators] def fixtureCorpus: String = {
    val candidate = sys.props.get("graft.mwaspkl.dir")
      .map(new java.io.File(_))
      .getOrElse(new java.io.File("src/test/resources/mwaspkl"))
    candidate.getAbsolutePath
  }

  /** Validated variant — used by the two pickle QUERY functions, never by
    * the registry/SQL builders: `val all` must construct without touching
    * the filesystem (r13 advisor — an absent corpus used to throw
    * ExceptionInInitializerError from object init and take down every
    * registry consumer, Bench's weather probe included; now only the two
    * pickle queries fail, at run time, with this message). */
  private[operators] def requireFixtureCorpus(): String = {
    val p = fixtureCorpus
    require(new java.io.File(p).isDirectory,
      s"mwaspkl fixture corpus not found at $p " +
        "(run from the repo root or set -Dgraft.mwaspkl.dir=<dir>)")
    p
  }

  private[operators] def catalog(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders").select(
      concat(lit("R"), col("o_orderkey")).as("run"),
      concat(lit("BS"), col("o_custkey")).as("bio_sample"),
      concat(lit("BP"), col("o_custkey") % 20).as("bio_project"),
      col("o_totalprice").as("spots"))

  private[operators] def input(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val l = Tables(s, dir, "lineitem")
    val qty = l.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("quantifier"))
    o.filter(col("o_orderkey") % 3 =!= 0)
      .join(qty, o("o_orderkey") === qty("l_orderkey"), "left_outer")
      .na.fill(Map("quantifier" -> 0.0))
      .select(
        concat(lit("R"), col("o_orderkey")).as("run"),
        col("o_orderpriority").as("group"),
        col("quantifier"))
  }

  private[operators] def metadataLong(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val base = c.select(
      concat(lit("BP"), col("c_custkey") % 20).as("bioproject"),
      concat(lit("BS"), col("c_custkey")).as("biosample_id"),
      col("c_mktsegment").as("mktsegment"),
      concat(lit("N"), col("c_nationkey") % 5).as("nation_bucket"))
    MetadataCondenser.melt(base, "bioproject", "biosample_id")
  }

  /** The condenser alone, DuckDB-oracled (SURVEY §2.8's operator).
    * `members` goes out as a '; '-joined string: the driver's pandas-based
    * compare can't sort ARRAY cells (unhashable ndarray), and the join is a
    * bijection on sorted distinct members — no information loss. */
  def condenseQuery(s: SparkSession, dir: String): DataFrame =
    MetadataCondenser.condense(metadataLong(s, dir))
      .select(col("bioproject"), col("attributes"), col("values"),
        array_join(col("members"), "; ").as("members"),
        col("n_stored").cast("long").as("n_stored"),
        col("include"), col("n_biosamples").cast("long").as("n_biosamples"))
      .orderBy(col("bioproject"), col("attributes"), col("values"))

  /** Inner oracle relation with `members` still an ARRAY — reused by
    * set-expand, which unnests it. */
  val condenseArraySql: String =
    s"""WITH long AS (
      |  SELECT 'BP' || (c_custkey % 20) AS bioproject,
      |         'BS' || c_custkey AS biosample_id,
      |         'mktsegment' AS attribute, c_mktsegment AS value
      |  FROM customer
      |  UNION ALL
      |  SELECT 'BP' || (c_custkey % 20), 'BS' || c_custkey,
      |         'nation_bucket', 'N' || (c_nationkey % 5)
      |  FROM customer),
      |bp AS (SELECT bioproject, count(DISTINCT biosample_id) AS n
      |       FROM long GROUP BY 1),
      |attr_ok AS (
      |  SELECT l.bioproject, l.attribute
      |  FROM long l JOIN bp ON l.bioproject = bp.bioproject
      |  GROUP BY 1, 2, bp.n
      |  -- pandas NA literals ('nan', 'NA', 'None', …) are missing values
      |  -- (read-time NaN): they never count toward an attribute's
      |  -- distinct values; the list interpolates from PandasNaValues
      |  HAVING count(DISTINCT CASE WHEN l.value NOT IN (${MetadataCondenser.sqlNaList}) THEN l.value END) > 1
      |     AND count(DISTINCT CASE WHEN l.value NOT IN (${MetadataCondenser.sqlNaList}) THEN l.value END) < bp.n),
      |factors AS (
      |  SELECT l.bioproject, l.attribute, l.value, bp.n AS n_biosamples,
      |         list_sort(list(DISTINCT l.biosample_id)) AS members_raw,
      |         count(DISTINCT l.biosample_id) AS cnt
      |  FROM long l
      |  JOIN attr_ok a ON l.bioproject = a.bioproject AND l.attribute = a.attribute
      |  JOIN bp ON l.bioproject = bp.bioproject
      |  WHERE l.value IS NOT NULL AND l.value NOT IN (${MetadataCondenser.sqlNaList})
      |  GROUP BY 1, 2, 3, 4
      |  HAVING count(DISTINCT l.biosample_id) > 1),
      |allbs AS (
      |  SELECT bioproject, list_sort(list(DISTINCT biosample_id)) AS all_members
      |  FROM long GROUP BY 1),
      |stored AS (
      |  -- labels translated ONCE here (post-grouping, so ;/: variants
      |  -- kept their distinct membership above)
      |  SELECT f.bioproject,
      |         replace(f.attribute, ';', ':') AS attribute,
      |         replace(f.value, ';', ':') AS value,
      |         f.cnt < f.n_biosamples / 2.0 AS include,
      |         CASE WHEN f.cnt < f.n_biosamples / 2.0 THEN f.members_raw
      |              ELSE list_sort(list_filter(a.all_members,
      |                     m -> NOT list_contains(f.members_raw, m))) END AS members,
      |         f.n_biosamples
      |  FROM factors f JOIN allbs a ON f.bioproject = a.bioproject)
      |SELECT bioproject,
      |       string_agg(attribute, '; ' ORDER BY attribute, value)
      |         AS attributes,
      |       string_agg(value, '; ' ORDER BY attribute, value)
      |         AS "values",
      |       members, CAST(len(members) AS BIGINT) AS n_stored, include,
      |       n_biosamples
      |FROM stored
      |GROUP BY bioproject, include, members, n_biosamples
      |ORDER BY bioproject, attributes, "values"""".stripMargin

  /** Driver-facing oracle: ARRAY members stringified (same projection the
    * Spark side emits). */
  val condenseSql: String =
    s"""SELECT bioproject, attributes, "values",
       |       array_to_string(members, '; ') AS members,
       |       n_stored, include, n_biosamples
       |FROM (${condenseArraySql.replace(
              "ORDER BY bioproject, attributes, \"values\"", "")}) c
       |ORDER BY bioproject, attributes, "values"""".stripMargin

  /** The computed (unordered) pipeline relation, cached for the MOST
    * RECENT (session, sf dir) only: three driver queries (full / stats
    * slice / results-analyze) consume it back-to-back, and the permutation
    * kernel inside is the expensive part — persist() turns three full
    * pipeline executions into one. A single-slot cache bounds the storage
    * footprint by construction: switching key unpersists and drops the
    * previous entry, so a long-lived session holds at most one cached
    * pipeline relation (the round-2 TrieMap kept every (session, dir) it
    * ever saw, persisted, forever). `evict()` releases even that. */
  private val pipelineCache = new java.util.concurrent.atomic.AtomicReference[
    Option[((SparkSession, String), DataFrame)]](None)

  /** Unpersist and drop the cached pipeline relation (bench/test
    * hygiene). Takes the same lock as [[pipelineBase]] — an unlocked
    * evict could unpersist a relation another thread just handed out, or
    * race between that thread's get and set. */
  def evict(): Unit = pipelineCache.synchronized {
    pipelineCache.getAndSet(None).foreach { case (_, df) =>
      df.unpersist(blocking = false)
    }
  }

  private def pipelineBase(s: SparkSession, dir: String): DataFrame =
    pipelineCache.synchronized {
      pipelineCache.get() match {
        case Some((k, df)) if k == (s, dir) => df
        case prev =>
          prev.foreach(_._2.unpersist(blocking = false))
          // Deliberately NOT localCheckpoint-staging input/catalog/sets
          // (r10 A/B, 5-rep medians at sf0.1 with a flat control): the
          // plan re-derives them per consuming branch (orders scanned
          // 26x, customer 24x in the formatted plan), but eager
          // materialization measured SLOWER end-to-end — 11.11 s staged
          // vs 8.47 s as-is — because the derivations are narrow
          // column-pruned scans + one small agg-join, while staging pays
          // its materialization up front and makes every branch read
          // full unpruned rows from the block store. Same conclusion as
          // the documented ReuseExchange decision in Pipeline.run.
          val sets = MetadataCondenser.condense(metadataLong(s, dir))
          val df = Pipeline.run(input(s, dir), catalog(s, dir), sets,
            MwasConfig()).persist()
          pipelineCache.set(Some(((s, dir), df)))
          df
      }
    }

  /** The flagship: condenser output feeding the single-plan MWAS pipeline —
    * the reference's full 18-column output (main/mwas_general.py:92-94),
    * DuckDB-oracled on every deterministic cell since round 9.
    *
    * The pipeline itself runs UNMASKED (default config, real permutation
    * kernel, real p-values, real listings — [[graft.mwas.Pipeline.run]]
    * returns the true output relation); only this driver-facing projection
    * masks, identically on both engines, the three cells no SQL engine can
    * recompute: on permutation-routed rows the p-value is a seeded
    * Monte-Carlo / exact-enumeration resample (p → NULL, status → the
    * route name, the p-gated biosample listings → NULL). Everything else —
    * num/mean/sd on all rows, the test statistic on all rows (Welch t and
    * the permutation route's mean-difference statistic are both closed
    * form), fold-change with its ±∞ sentinels, and on WELCH rows the
    * t-CDF p-value ([[TCdfSql]]), the significance flag, and the capped,
    * polarity-swapped biosample listings — is hash-compared. At the
    * gate SF every side is ≥ the permutation cutoff, so the masked cells
    * are exactly the permutation resamples; at sf0.001 the Welch route
    * carries 459/474 rows, significant ones included, exercising p/status/
    * listing comparison end to end. */
  def pipelineQuery(s: SparkSession, dir: String): DataFrame = {
    val isT = col("status").startsWith("t_test")
    pipelineBase(s, dir).select(
      col("bioproject"), col("group"), col("metadata_field"),
      col("metadata_value"),
      when(isT, col("status")).otherwise(lit("permutation_test")).as("status"),
      col("runtime_seconds"), col("memory_usage_bytes"),
      col("num_true"), col("num_false"),
      col("mean_rpm_true"), col("mean_rpm_false"),
      col("sd_rpm_true"), col("sd_rpm_false"),
      col("fold_change"), col("test_statistic"),
      when(isT, col("p_value")).otherwise(lit(null).cast("double"))
        .as("p_value"),
      when(isT, col("true_biosamples")).otherwise(lit(null).cast("string"))
        .as("true_biosamples"),
      when(isT, col("false_biosamples")).otherwise(lit(null).cast("string"))
        .as("false_biosamples"))
      .orderBy(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"))
  }

  /** Full-output oracle: [[pipelineCoreSql]] + the engine's exact routing
    * predicate (min side < 4, pooled > 20000, value-collection cap —
    * Pipeline.run's `isTTest`), Welch t/df with WelchTTest.compute's
    * guards, the continued-fraction t-CDF for p on Welch rows, and the
    * status/listing assembly mirroring Pipeline.run's output stage
    * (reference main/mwas_general.py:424-434) cell for cell. Null or nan
    * p reads as NOT significant (empty listings, no suffix) on both
    * sides — the r9 review retired the earlier quirk where a null p
    * leaked populated listings; zero-variance Welch rows mirror scipy
    * (t = ±inf, p = 0, significant — or nan/nan when the means agree). */
  val pipelineFullSql: String = {
    val keys = Seq("bioproject", "grp", "attributes", "vals")
    s"""WITH RECURSIVE $pipelineCoreSql,
      |routed AS (
      |  SELECT *,
      |    (least(num_true, num_false) < 4 OR num_true + num_false > 20000
      |     OR nonzeros > 100000) AS is_t,
      |    sd_t*sd_t/num_true + sd_f*sd_f/num_false AS se2
      |  FROM testable),
      |tdf_in AS (
      |  SELECT bioproject, grp, attributes, vals,
      |    CASE WHEN se2 > 0 THEN (mean_t - mean_f)/sqrt(se2) END AS t,
      |    CASE WHEN se2 > 0 THEN se2*se2 /
      |      (pow(sd_t*sd_t/num_true, 2)/(num_true-1)
      |       + pow(sd_f*sd_f/num_false, 2)/(num_false-1)) END AS df
      |  FROM routed WHERE is_t),
      |${TCdfSql.fragment(keys)},
      |fullout AS (
      |  SELECT r.*,
      |    -- zero-variance-both-sides Welch rows mirror scipy (df pinned
      |    -- to 1, t = +-inf, p = 0 when the means differ; nan when they
      |    -- agree) -- the CF fragment only sees finite-t rows
      |    CASE WHEN r.se2 > 0 THEN tp.p_cf
      |         WHEN r.mean_t <> r.mean_f THEN CAST(0.0 AS DOUBLE)
      |         ELSE CAST('nan' AS DOUBLE) END AS p_cf,
      |    CASE WHEN NOT r.is_t THEN r.mean_t - r.mean_f
      |         WHEN r.se2 > 0 THEN ti.t
      |         WHEN r.mean_t > r.mean_f THEN CAST('infinity' AS DOUBLE)
      |         WHEN r.mean_t < r.mean_f THEN CAST('-infinity' AS DOUBLE)
      |         ELSE CAST('nan' AS DOUBLE) END AS test_statistic,
      |    CASE WHEN r.mean_t = 0 AND r.mean_f = 0 THEN CAST(0.0 AS DOUBLE)
      |         WHEN r.mean_f = 0 THEN CAST('infinity' AS DOUBLE)
      |         WHEN r.mean_t = 0 THEN CAST('-infinity' AS DOUBLE)
      |         ELSE log2(r.mean_t/r.mean_f) END AS fold_change,
      |    coalesce(CASE WHEN r.se2 > 0 THEN tp.p_cf
      |                  WHEN r.mean_t <> r.mean_f THEN CAST(0.0 AS DOUBLE)
      |             END < 0.005, false) AS significant
      |  FROM routed r
      |  LEFT JOIN tdf_in ti USING (${keys.mkString(", ")})
      |  LEFT JOIN tcdf_p tp USING (${keys.mkString(", ")}))
      |SELECT bioproject, grp AS "group",
      |  replace(attributes, ',', ' ') AS metadata_field,
      |  replace(vals, ',', ' ') AS metadata_value,
      |  CASE WHEN NOT is_t THEN 'permutation_test'
      |       WHEN significant THEN 't_test; significant'
      |       ELSE 't_test' END AS status,
      |  CAST(0.0 AS DOUBLE) AS runtime_seconds,
      |  CAST(0 AS BIGINT) AS memory_usage_bytes,
      |  num_true, num_false,
      |  mean_t AS mean_rpm_true, mean_f AS mean_rpm_false,
      |  sd_t AS sd_rpm_true, sd_f AS sd_rpm_false,
      |  fold_change, test_statistic,
      |  CASE WHEN is_t THEN p_cf END AS p_value,
      |  CASE WHEN NOT is_t THEN NULL
      |       WHEN NOT significant THEN ''
      |       WHEN num_true < 1000 THEN array_to_string(
      |         CASE WHEN include THEN members
      |              ELSE list_filter(all_bs,
      |                     m -> NOT list_contains(members, m)) END, '; ')
      |       ELSE 'too many biosamples to list' END AS true_biosamples,
      |  CASE WHEN NOT is_t THEN NULL
      |       WHEN NOT significant THEN ''
      |       WHEN num_false < 1000 THEN array_to_string(
      |         CASE WHEN include THEN list_filter(all_bs,
      |                     m -> NOT list_contains(members, m))
      |              ELSE members END, '; ')
      |       ELSE 'too many biosamples to list' END AS false_biosamples
      |FROM fullout
      |ORDER BY bioproject, "group", metadata_field, metadata_value""".stripMargin
  }

  /** The closed-form pipeline relation for consumers that never read the
    * permutation p-value: statClosedForm skips value collection and the
    * resampling kernel, so this is pure relational algebra end to end —
    * the statistic on the permutation route is the algebraic mean
    * difference, identical to what the kernel reports. */
  // NOT checkpointing `sets` here or in pipelineTQuery: the condenser is
  // one scan of the long relation, and a checkpoint of its output measured
  // flat on a 4-core host (pipelineTQuery, median 2.52 vs 2.53 s at sf0.1
  // and 7.52 vs 7.42 s at 10×, with/without).
  private def statBase(s: SparkSession, dir: String): DataFrame = {
    val sets = MetadataCondenser.condense(metadataLong(s, dir))
    Pipeline.run(input(s, dir), catalog(s, dir), sets,
      MwasConfig(statClosedForm = true))
  }

  /** Oracle-checkable slice of the pipeline: everything except the t-CDF
    * p-value and the p-dependent status/listing columns. */
  def pipelineStatsQuery(s: SparkSession, dir: String): DataFrame =
    statBase(s, dir).select(
      col("bioproject"), col("group"), col("metadata_field"),
      col("metadata_value"), col("num_true"), col("num_false"),
      col("mean_rpm_true"), col("mean_rpm_false"),
      col("sd_rpm_true"), col("sd_rpm_false"), col("test_statistic"))
      .orderBy(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"))

  /** Shared CTE chain (no leading WITH): user CSV + catalog + condenser +
    * the pipeline's algebraic contrast statistics, ending in `testable` —
    * one row per surviving contrast with the side stats AND the set
    * bookkeeping (include, members, catalog biosample universe, nonzero
    * count) that the full-output oracle needs for status/listing columns.
    * [[pipelineStatsSql]] and [[pipelineFullSql]] are two suffixes over
    * this one prefix, so the engines-vs-oracle semantics can't drift
    * between the stats slice and the full output. */
  // lazy: referenced by pipelineFullSql, which is declared earlier in the
  // file — a strict val would interpolate as "null" there (init order)
  private lazy val pipelineCoreSql: String =
    s"""catalog AS (
      |  SELECT 'R' || o_orderkey AS run, 'BS' || o_custkey AS bio_sample,
      |         'BP' || (o_custkey % 20) AS bio_project,
      |         o_totalprice AS spots
      |  FROM orders),
      |input AS (
      |  SELECT 'R' || o_orderkey AS run, o_orderpriority AS grp,
      |         coalesce(q.quantifier, 0) AS quantifier
      |  FROM orders o LEFT JOIN (
      |    SELECT l_orderkey, sum(l_quantity) AS quantifier
      |    FROM lineitem GROUP BY 1) q ON o.o_orderkey = q.l_orderkey
      |  WHERE o_orderkey % 3 <> 0),
      |long AS (
      |  SELECT 'BP' || (c_custkey % 20) AS bioproject,
      |         'BS' || c_custkey AS biosample_id,
      |         'mktsegment' AS attribute, c_mktsegment AS value
      |  FROM customer
      |  UNION ALL
      |  SELECT 'BP' || (c_custkey % 20), 'BS' || c_custkey,
      |         'nation_bucket', 'N' || (c_nationkey % 5)
      |  FROM customer),
      |bp AS (SELECT bioproject, count(DISTINCT biosample_id) AS n
      |       FROM long GROUP BY 1),
      |attr_ok AS (
      |  SELECT l.bioproject, l.attribute
      |  FROM long l JOIN bp ON l.bioproject = bp.bioproject
      |  GROUP BY 1, 2, bp.n
      |  -- pandas NA literals ('nan', 'NA', 'None', …) are missing values
      |  -- (read-time NaN): they never count toward an attribute's
      |  -- distinct values; the list interpolates from PandasNaValues
      |  HAVING count(DISTINCT CASE WHEN l.value NOT IN (${MetadataCondenser.sqlNaList}) THEN l.value END) > 1
      |     AND count(DISTINCT CASE WHEN l.value NOT IN (${MetadataCondenser.sqlNaList}) THEN l.value END) < bp.n),
      |factors AS (
      |  SELECT l.bioproject, l.attribute, l.value, bp.n AS n_biosamples,
      |         list_sort(list(DISTINCT l.biosample_id)) AS members_raw,
      |         count(DISTINCT l.biosample_id) AS cnt
      |  FROM long l
      |  JOIN attr_ok a ON l.bioproject = a.bioproject AND l.attribute = a.attribute
      |  JOIN bp ON l.bioproject = bp.bioproject
      |  WHERE l.value IS NOT NULL AND l.value NOT IN (${MetadataCondenser.sqlNaList})
      |  GROUP BY 1, 2, 3, 4
      |  HAVING count(DISTINCT l.biosample_id) > 1),
      |allbs AS (
      |  SELECT bioproject, list_sort(list(DISTINCT biosample_id)) AS all_members
      |  FROM long GROUP BY 1),
      |sets AS (
      |  SELECT bioproject,
      |         string_agg(attribute, '; ' ORDER BY attribute, value)
      |           AS attributes,
      |         string_agg(value, '; ' ORDER BY attribute, value) AS vals,
      |         members, len(members) AS n_stored, include, n_biosamples
      |  FROM (
      |    SELECT f.bioproject,
      |           replace(f.attribute, ';', ':') AS attribute,
      |           replace(f.value, ';', ':') AS value,
      |           f.cnt < f.n_biosamples / 2.0 AS include,
      |           CASE WHEN f.cnt < f.n_biosamples / 2.0 THEN f.members_raw
      |                ELSE list_sort(list_filter(a.all_members,
      |                       m -> NOT list_contains(f.members_raw, m))) END AS members,
      |           f.n_biosamples
      |    FROM factors f JOIN allbs a ON f.bioproject = a.bioproject)
      |  GROUP BY bioproject, include, members, n_biosamples),
      |bs_rpm AS (
      |  SELECT c.bio_project, i.grp, c.bio_sample,
      |         avg(i.quantifier / (CASE WHEN c.spots = 0 THEN 1e6 ELSE c.spots END) * 1e6) AS rpm
      |  FROM catalog c JOIN input i ON c.run = i.run
      |  GROUP BY 1, 2, 3),
      |provided AS (
      |  SELECT c.bio_project, i.grp, count(*) AS n_provided
      |  FROM catalog c JOIN input i ON c.run = i.run
      |  GROUP BY 1, 2),
      |accepted AS (
      |  SELECT b.bio_project, b.grp,
      |         sum(CASE WHEN rpm <> 0 THEN 1 ELSE 0 END) AS nonzeros,
      |         sum(rpm) AS sum_all, sum(rpm * rpm) AS sumsq_all
      |  FROM bs_rpm b JOIN provided p
      |    ON b.bio_project = p.bio_project AND b.grp = p.grp
      |  GROUP BY 1, 2, p.n_provided
      |  HAVING p.n_provided >= 3),
      |bp_universe AS (
      |  SELECT bio_project, count(DISTINCT bio_sample) AS n_cat,
      |         list_sort(list(DISTINCT bio_sample)) AS all_bs
      |  FROM catalog GROUP BY 1),
      |member AS (
      |  SELECT s.bioproject, s.attributes, s.vals, u.m AS bio_sample
      |  FROM sets s, unnest(s.members) AS u(m)),
      |stored_stats AS (
      |  SELECT m.bioproject, b.grp, m.attributes, m.vals,
      |         sum(b.rpm) AS sum_stored, sum(b.rpm * b.rpm) AS sumsq_stored
      |  FROM bs_rpm b JOIN member m
      |    ON b.bio_project = m.bioproject AND b.bio_sample = m.bio_sample
      |  GROUP BY 1, 2, 3, 4),
      |contrasts AS (
      |  SELECT s.bioproject, a.grp, s.attributes, s.vals, s.include,
      |         s.members, a.nonzeros, u.all_bs,
      |         s.n_stored, u.n_cat, a.sum_all, a.sumsq_all,
      |         coalesce(st.sum_stored, 0) AS sum_stored,
      |         coalesce(st.sumsq_stored, 0) AS sumsq_stored
      |  FROM sets s
      |  JOIN accepted a ON s.bioproject = a.bio_project
      |  JOIN bp_universe u ON s.bioproject = u.bio_project
      |  LEFT JOIN stored_stats st ON st.bioproject = s.bioproject
      |    AND st.grp = a.grp AND st.attributes = s.attributes AND st.vals = s.vals),
      |sides AS (
      |  SELECT bioproject, grp, attributes, vals, include, members,
      |    nonzeros, all_bs,
      |    CAST(CASE WHEN include THEN n_stored ELSE n_cat - n_stored END AS BIGINT) AS num_true,
      |    CAST(CASE WHEN include THEN n_cat - n_stored ELSE n_stored END AS BIGINT) AS num_false,
      |    CASE WHEN include THEN sum_stored ELSE sum_all - sum_stored END AS sum_t,
      |    CASE WHEN include THEN sum_all - sum_stored ELSE sum_stored END AS sum_f,
      |    CASE WHEN include THEN sumsq_stored ELSE sumsq_all - sumsq_stored END AS sumsq_t,
      |    CASE WHEN include THEN sumsq_all - sumsq_stored ELSE sumsq_stored END AS sumsq_f
      |  FROM contrasts),
      |stats AS (
      |  SELECT bioproject, grp, attributes, vals, include, members,
      |    nonzeros, all_bs, num_true, num_false,
      |    sum_t / num_true AS mean_t, sum_f / num_false AS mean_f,
      |    sqrt(greatest(sumsq_t / num_true - (sum_t / num_true) * (sum_t / num_true), 0)) AS sd_t,
      |    sqrt(greatest(sumsq_f / num_false - (sum_f / num_false) * (sum_f / num_false), 0)) AS sd_f
      |  FROM sides
      |  WHERE num_true >= 2 AND num_false >= 2),
      |testable AS (
      |  SELECT * FROM stats WHERE NOT (mean_t = 0 AND mean_f = 0))""".stripMargin

  val pipelineStatsSql: String =
    s"""WITH $pipelineCoreSql
      |SELECT bioproject, grp AS "group",
      |  replace(attributes, ',', ' ') AS metadata_field,
      |  replace(vals, ',', ' ') AS metadata_value,
      |  num_true, num_false,
      |  mean_t AS mean_rpm_true, mean_f AS mean_rpm_false,
      |  sd_t AS sd_rpm_true, sd_f AS sd_rpm_false,
      |  CASE WHEN least(num_true, num_false) < 4 THEN
      |    CASE WHEN (sd_t*sd_t/num_true + sd_f*sd_f/num_false) > 0
      |         THEN (mean_t - mean_f) / sqrt(sd_t*sd_t/num_true + sd_f*sd_f/num_false)
      |         ELSE NULL END
      |  ELSE mean_t - mean_f END AS test_statistic
      |FROM testable
      |ORDER BY bioproject, "group", metadata_field, metadata_value""".stripMargin

  /** The reference's post-processing summary pass
    * (main/mwas_results_analyze.py:22-69 — A7/A8): per-bioproject test
    * counts, routing mix, derived ratios, and mean |t|. Runs ON TOP of the
    * pipeline output relation, like the reference runs over its output
    * CSVs. Significance counts are excluded on purpose: they depend on the
    * t-CDF p-value the SQL oracle can't recompute. */
  def resultsAnalyzeQuery(s: SparkSession, dir: String): DataFrame =
    statBase(s, dir)
      .groupBy(col("bioproject"))
      .agg(
        count(lit(1)).as("n_tests"),
        countDistinct(col("group")).as("n_groups"),
        round(count(lit(1)).cast("double") /
          countDistinct(col("group")), 6).as("sets_per_group"),
        sum(when(least(col("num_true"), col("num_false")) < 4, 1L)
          .otherwise(0L)).as("n_route_t"),
        sum(when(least(col("num_true"), col("num_false")) >= 4, 1L)
          .otherwise(0L)).as("n_route_perm"),
        // mean |t| via the exact-integer-numerator recipe (NOTES_r8
        // class N): the per-row statistics are bit-identical across
        // engines (q23_welch is hash-green), so round(|t|·10⁶) to
        // INTEGER is identical too — round(avg(·),6) of a plain double
        // sum is the avg-of-reordered-sums class that straddled
        // hash_sample at sf0.001
        (round(sum(round(abs(col("test_statistic")) * 1000000)
          .cast("long")).cast("double") / count(lit(1))) / 1000000.0)
          .as("avg_abs_stat"),
        sum(when(col("mean_rpm_true") > col("mean_rpm_false"), 1L)
          .otherwise(0L)).as("n_true_gt"),
        sum(when(col("mean_rpm_true") < col("mean_rpm_false"), 1L)
          .otherwise(0L)).as("n_false_gt"))
      .orderBy(col("bioproject"))

  val resultsAnalyzeSql: String =
    s"""SELECT bioproject, CAST(count(*) AS BIGINT) AS n_tests,
       |  CAST(count(DISTINCT "group") AS BIGINT) AS n_groups,
       |  round(CAST(count(*) AS DOUBLE) / count(DISTINCT "group"), 6)
       |    AS sets_per_group,
       |  CAST(sum(CASE WHEN least(num_true, num_false) < 4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_route_t,
       |  CAST(sum(CASE WHEN least(num_true, num_false) >= 4 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_route_perm,
       |  round(CAST(sum(CAST(round(abs(test_statistic) * 1000000)
       |      AS BIGINT)) AS DOUBLE) / count(*)) / 1000000.0
       |    AS avg_abs_stat,
       |  CAST(sum(CASE WHEN mean_rpm_true > mean_rpm_false THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_true_gt,
       |  CAST(sum(CASE WHEN mean_rpm_true < mean_rpm_false THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_false_gt
       |FROM (${pipelineStatsSql}) base
       |GROUP BY bioproject ORDER BY bioproject""".stripMargin

  /** The pipeline under ONLY_T_TEST (reference flag, main/mwas_general
    * .py:86): every contrast takes the Welch route, so the t statistic is
    * SQL-derivable for ALL rows — this closes the routing branch the
    * default config can't exercise at sf0.01 (where every side is large
    * enough to route to permutation). */
  def pipelineTQuery(s: SparkSession, dir: String): DataFrame = {
    val sets = MetadataCondenser.condense(metadataLong(s, dir))
    Pipeline.run(input(s, dir), catalog(s, dir), sets,
        MwasConfig(onlyTTest = true))
      .select(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"), col("num_true"), col("num_false"),
        col("test_statistic"))
      .orderBy(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"))
  }

  val pipelineTSql: String = {
    val inner = pipelineStatsSql
      .replace("ORDER BY bioproject, \"group\", metadata_field, metadata_value", "")
    s"""SELECT bioproject, "group", metadata_field, metadata_value,
       |       num_true, num_false,
       |       CASE WHEN (sd_rpm_true*sd_rpm_true/num_true
       |                  + sd_rpm_false*sd_rpm_false/num_false) > 0
       |            THEN (mean_rpm_true - mean_rpm_false)
       |                 / sqrt(sd_rpm_true*sd_rpm_true/num_true
       |                        + sd_rpm_false*sd_rpm_false/num_false)
       |            ELSE NULL END AS test_statistic
       |FROM ($inner) base
       |ORDER BY bioproject, "group", metadata_field, metadata_value""".stripMargin
  }

  /** P8/P10: the intake policy over per-project metadata stats — empty /
    * size-budget / blacklist routing (graft.mwas.Policy; reference
    * main/converter_.py:11-31, main/mwas_general.py:295-314). The size
    * budget is 1.05× the mean project size so the predicate selects rows
    * at every SF (an absolute byte threshold flips between SFs). The
    * global window runs over ONE ROW PER PROJECT — post-aggregation,
    * thousands of rows at most, not a data-scale single partition. */
  def policyQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = metadataLong(s, dir)
      .groupBy(col("bioproject"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(length(col("attribute")) +
          length(coalesce(col("value"), lit(""))) + lit(2))
          .cast("long").as("size_bytes"))
      .withColumn("max_size",
        avg(col("size_bytes")).over(
          org.apache.spark.sql.expressions.Window.partitionBy()) * 1.05)
    val blacklist = Seq("BP3", "BP7", "nan").toDF("bioproject")
    graft.mwas.Policy.route(stats, blacklist, col("max_size"))
      .select(col("bioproject"), col("n_rows"), col("size_bytes"),
        col("in_blacklist"), col("status"))
      .orderBy(col("bioproject"))
  }

  val policySql: String =
    """WITH long AS (
      |  SELECT 'BP' || (c_custkey % 20) AS bioproject,
      |         'BS' || c_custkey AS biosample_id,
      |         'mktsegment' AS attribute, c_mktsegment AS value
      |  FROM customer
      |  UNION ALL
      |  SELECT 'BP' || (c_custkey % 20), 'BS' || c_custkey,
      |         'nation_bucket', 'N' || (c_nationkey % 5)
      |  FROM customer),
      |stats AS (
      |  SELECT bioproject, CAST(count(*) AS BIGINT) AS n_rows,
      |         CAST(sum(length(attribute) + length(coalesce(value, ''))
      |           + 2) AS BIGINT) AS size_bytes
      |  FROM long GROUP BY 1),
      |m AS (SELECT avg(size_bytes) * 1.05 AS max_size FROM stats)
      |SELECT s.bioproject, s.n_rows, s.size_bytes,
      |       s.bioproject IN ('BP3', 'BP7', 'nan') AS in_blacklist,
      |       CASE WHEN s.size_bytes <= 1 THEN 'was_empty'
      |            WHEN s.size_bytes <= m.max_size
      |                 AND s.bioproject NOT IN ('BP3', 'BP7', 'nan')
      |              THEN 'accepted'
      |            ELSE 'too_large' END AS status
      |FROM stats s, m ORDER BY s.bioproject""".stripMargin

  /** The reference's pickle-to-readable expansion
    * (main/mwaspkl_to_readable_csv.py:24-29): sets back to per-biosample
    * rows with the ordinal position preserved — `posexplode` is the whole
    * tool. */
  def setExpandQuery(s: SparkSession, dir: String): DataFrame =
    MetadataCondenser.condense(metadataLong(s, dir))
      .select(col("bioproject"), col("attributes"), col("values"),
        posexplode(col("members")).as(Seq("ordinal", "biosample_id")))
      .select(col("bioproject"), col("attributes"), col("values"),
        col("ordinal").cast("long").as("ordinal"), col("biosample_id"))
      .orderBy(col("bioproject"), col("attributes"), col("values"),
        col("ordinal"))

  val setExpandSql: String =
    s"""SELECT bioproject, attributes, "values",
       |       CAST(generate_subscripts(members, 1) - 1 AS BIGINT) AS ordinal,
       |       unnest(members) AS biosample_id
       |FROM (${condenseArraySql.replace("ORDER BY bioproject, attributes, \"values\"", "")}) sets
       |ORDER BY bioproject, attributes, "values", ordinal""".stripMargin

  /** The committed pandas-exported parquet mirror of the fixture corpus
    * (`tools/picklemirror.py`): DuckDB cannot read Python pickles, but it
    * CAN read what REAL pandas — the reference's own loader — decoded
    * them to. Reading the mirror makes the pickle queries driver
    * hash-compared instead of rows-only: the Scala pickle VM's decode is
    * checked cell-for-cell against the independent pandas decode at
    * driver time. Regenerated only when the fixture corpus changes. */
  private[operators] def mirrorDir: java.io.File =
    new java.io.File(new java.io.File(fixtureCorpus).getParentFile,
      "mwaspkl_mirror")

  /** S4 — the pickle-corpus migration surface (graft.sources.PickleCompat)
    * over the committed reference-written fixtures. Oracled against the
    * pandas-exported mirror (see [[mirrorDir]]) — the decode itself is
    * hash-compared cross-engine. `set_id` is projected out for the
    * compare exactly as `mwas_condense` does (xxhash64 is not
    * cross-engine); it stays covered by PickleCompatSpec's round trip.
    * `dir` is unused: the corpus is a fixed fixture tree, not
    * scale-factor data. */
  def pickleMigrateQuery(s: SparkSession, dir: String): DataFrame = {
    graft.sources.PickleCompat.condensedSets(s, requireFixtureCorpus())
      .select(col("bioproject"), col("attributes"), col("values"),
        array_join(col("members"), "; ").as("members"),
        col("n_stored").cast("long").as("n_stored"), col("include"),
        col("n_biosamples").cast("long").as("n_biosamples"))
      .orderBy(col("bioproject"), col("attributes"), col("values"))
  }

  /** The reference's corpus-profiling pass (main/bioproject_sampling
    * .py:73-81: log-bucketed size histogram + per-bucket sample, printed
    * as `[126028, 40137, ...]`) as one relational query: per-project
    * metadata size → power-of-two bucket → count/min/max/avg + a
    * DETERMINISTIC per-bucket sample (smallest 3 ids — the reference used
    * `random.sample`, which no oracle can reproduce; determinism is the
    * point of this engine's sampling, cf. `hash_sample`). */
  def corpusStatsQuery(s: SparkSession, dir: String): DataFrame = {
    // both windows run over ONE ROW PER PROJECT (post-aggregation,
    // thousands at most) — not a data-scale single-partition sort
    val wAll = org.apache.spark.sql.expressions.Window
      .orderBy(col("size_bytes"), col("bioproject"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("size_bytes"), col("bioproject"))
    metadataLong(s, dir)
      .groupBy(col("bioproject"))
      .agg(sum(length(col("attribute")) +
        length(coalesce(col("value"), lit(""))) + lit(2))
        .cast("long").as("size_bytes"))
      .filter(col("size_bytes") > 1) // the reference drops sentinel sizes
      // size quartiles, not the reference's absolute byte edges: absolute
      // edges are corpus-specific (this synthetic corpus is near-uniform,
      // one bucket), quartiles profile any corpus
      .withColumn("bucket", ntile(4).over(wAll).cast("long"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_projects"),
        min(col("size_bytes")).as("min_bytes"),
        max(col("size_bytes")).as("max_bytes"),
        round(avg(col("size_bytes")), 2).as("avg_bytes"),
        // FILTER clause, not when(): collect_list skips nulls but
        // DuckDB's list() keeps them — FILTER agrees on both engines
        array_join(sort_array(
          expr("collect_list(bioproject) FILTER (WHERE rn <= 3)")), "; ")
          .as("sample"))
      .orderBy(col("bucket"))
  }

  val corpusStatsSql: String =
    """WITH long AS (
      |  SELECT 'BP' || (c_custkey % 20) AS bioproject,
      |         'mktsegment' AS attribute, c_mktsegment AS value
      |  FROM customer
      |  UNION ALL
      |  SELECT 'BP' || (c_custkey % 20), 'nation_bucket',
      |         'N' || (c_nationkey % 5)
      |  FROM customer),
      |sized AS (
      |  SELECT bioproject,
      |         CAST(sum(length(attribute) + length(coalesce(value, ''))
      |           + 2) AS BIGINT) AS size_bytes
      |  FROM long GROUP BY 1
      |  HAVING sum(length(attribute) + length(coalesce(value, '')) + 2) > 1),
      |tiled AS (
      |  SELECT bioproject, size_bytes,
      |         CAST(ntile(4) OVER (ORDER BY size_bytes, bioproject)
      |           AS BIGINT) AS bucket
      |  FROM sized),
      |bucketed AS (
      |  SELECT bioproject, size_bytes, bucket,
      |         row_number() OVER (PARTITION BY bucket
      |           ORDER BY size_bytes, bioproject) AS rn
      |  FROM tiled)
      |SELECT bucket, CAST(count(*) AS BIGINT) AS n_projects,
      |       min(size_bytes) AS min_bytes, max(size_bytes) AS max_bytes,
      |       round(avg(size_bytes), 2) AS avg_bytes,
      |       array_to_string(list_sort(list(bioproject)
      |         FILTER (WHERE rn <= 3)), '; ') AS sample
      |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Incremental MWAS — the engine composed with streaming ingest. The
    * user input (run list) arrives as a file stream in 3 micro-batches;
    * `foreachBatch` appends each batch to the accumulated input and
    * recomputes the WHOLE pipeline over it, overwriting the result — the
    * lambda-architecture recompute loop (and the honest analogue of the
    * reference's hand-rolled 1000-bioproject block loop,
    * main/mwas_general.py:601-614, except each increment yields a complete
    * consistent result). After the last batch the result equals the batch
    * answer over all input, so [[pipelineTSql]] oracles it EXACTLY
    * (only-t-test config: the t statistic is SQL-derivable for all rows).
    * At scale the same loop runs unbounded with a real source; recompute
    * cost is the pipeline on accumulated input — bounded here by the
    * closed-form plan, and in production by partition pruning on the
    * bioprojects a batch touches. */
  def streamMwasQuery(s: SparkSession, dir: String): DataFrame = {
    // (no events read here — the former defensive nanosAsLong conf set was
    // removed with the schema-adaptive Events codec, r10)
    // pid-scoped like StreamingQueries.stageBatches: a fixed name would
    // let a concurrently-exiting peer JVM delete this dir mid-stream
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft_stream_mwas_" + graft.streaming.StreamingQueries.pathTag(dir) +
        "_" + ProcessHandle.current().pid())
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    graft.core.TempDirs.cleanOnExit(base.toPath)
    val resultDir = s"$base/result"

    // stage the user input into 3 deterministic batches by run hash —
    // materialize the (orders⋈lineitem-derived) input ONCE, then the
    // three batch writes are cheap scans of that file
    input(s, dir).write.mode("overwrite").parquet(s"$base/input_full")
    val in = s.read.parquet(s"$base/input_full")
    val staging = graft.streaming.StreamingQueries.stageBatches(
      "graft_stream_mwas_batches_" + graft.streaming.StreamingQueries.pathTag(dir),
      (0 until 3).map(k =>
        in.filter(pmod(xxhash64(col("run")), lit(3)) === k)))

    // the catalog and condensed metadata sets are IDENTICAL for all three
    // micro-batches (only the accumulated user input grows) — persist them
    // for the stream's lifetime so the condenser's shuffle runs once, not
    // once per increment. Scoped strictly inside this query (unpersisted
    // before returning), so Bench's cold-cache rep isolation is untouched;
    // at scale this is the natural shape anyway — a long-running
    // incremental job pins its slowly-changing dimensions
    val cat = catalog(s, dir).persist()
    val sets = MetadataCondenser.condense(metadataLong(s, dir)).persist()
    // the readout's own slowly-changing dimensions (catalog universe,
    // per-bioproject set lists) — derived once, reused by every trigger
    val pdims = Pipeline.dims(cat, sets)
    pdims.bpUniverse.persist()
    pdims.bpSets.persist()
    // Incremental maintenance (VERDICT r12 item 5): instead of appending
    // raw rows and re-running the FULL pipeline over the accumulated
    // input each trigger, maintain the pipeline's mergeable sufficient
    // statistics — the (bio_project, group, bio_sample) → (Σ rpm,
    // n_runs) state of Pipeline.biosampleState. Batches partition by run
    // hash, so each batch's state slice is built from disjoint input
    // rows and merges by addition; only the READOUT
    // (Pipeline.runFromBiosampleState: bioproject-local contrast
    // statistics → Welch) recomputes per increment, over state that is
    // already reduced to biosample grain. At scale this is the difference
    // between re-scanning an ever-growing raw log and touching a
    // bounded dimension-sized state relation. State versions live as
    // eager localCheckpoints (block-manager resident, no FS round trip;
    // the lineage cut also keeps the merge plan flat across triggers —
    // the BPE/PCA per-round precedent).
    // catalog-universe size for the adaptive readout's routing guard —
    // one tiny count, once per stream
    val nUniverse = pdims.bpUniverse.count()
    val src = s.readStream.schema(in.schema)
      .option("maxFilesPerTrigger", "1").parquet(staging.toString)
    var state: Option[DataFrame] = None
    var results: Option[DataFrame] = None
    val q = src.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batch functions run sequentially on the driver: scoping the
        // shuffle width to the per-increment data size is safe and cuts
        // 3 readouts' worth of near-empty shuffle tasks
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        s.conf.set("spark.sql.shuffle.partitions", "8")
        try {
          // merge + readout via the shared trigger step
          // ([[Pipeline.incrementalTrigger]]). deltaReadout stays at its
          // measured default (off — see the step's scaladoc for the
          // negative result and crossover attribution, VERDICT r13 item
          // 2); parity gated by the unchanged batch oracle
          // (pipelineTSql)
          val (next, full) = Pipeline.incrementalTrigger(batch, cat,
            sets, MwasConfig(onlyTTest = true), pdims, nUniverse,
            state, results)
          state = Some(next)
          results = Some(full)
          full.write.mode("overwrite").parquet(resultDir)
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally {
      pdims.bpSets.unpersist(blocking = false)
      pdims.bpUniverse.unpersist(blocking = false)
      sets.unpersist(blocking = false)
      cat.unpersist(blocking = false)
    }

    s.read.parquet(resultDir)
      .select(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"), col("num_true"), col("num_false"),
        col("test_statistic"))
      .orderBy(col("bioproject"), col("group"), col("metadata_field"),
        col("metadata_value"))
  }

  /** S4 through the DataSource V2 path ([[graft.sources.MwasPickleSource]])
    * — the `spark.read.format("mwaspkl")` surface over the same
    * reference-written fixture corpus as `pickle_migrate`. Oracled
    * against the pandas-exported mirror's flattened `scan.parquet`
    * grain (see [[mirrorDir]]); MwasPickleSourceSpec additionally gates
    * file pruning, decode skipping, and cardinality invariance. The
    * query itself exercises the pushdown: the IN predicate prunes the
    * listing to two files before a byte of the others is read. */
  def pickleDsQuery(s: SparkSession, dir: String): DataFrame = {
    s.read.format("mwaspkl").load(requireFixtureCorpus())
      .filter(col("bioproject").isin("PRJTEST1", "PRJEDGE"))
      .select(col("bioproject"), col("attributes"), col("values"),
        // string, not ARRAY: the driver's pandas compare can't sort arrays
        array_join(col("index_list"), "; ").as("index_list"),
        col("include"), col("n_biosamples").cast("long").as("n_biosamples"))
      .orderBy(col("bioproject"), col("attributes"), col("values"))
  }

  /** Oracle SQL over the pandas mirror — path resolved at dump time (the
    * driver's DuckDB process reads the absolute path from
    * oracle_sql.json, cwd-independent). */
  def pickleMigrateSql: String = {
    val p = new java.io.File(mirrorDir, "sets.parquet").getAbsolutePath
    s"""SELECT bioproject, attributes, "values", members, n_stored,
       |       include, n_biosamples
       |FROM read_parquet('$p')
       |ORDER BY bioproject, attributes, "values"""".stripMargin
  }

  def pickleDsSql: String = {
    val p = new java.io.File(mirrorDir, "scan.parquet").getAbsolutePath
    s"""SELECT bioproject, attributes, "values", index_list, include,
       |       CAST(n_biosamples AS BIGINT) AS n_biosamples
       |FROM read_parquet('$p')
       |WHERE bioproject IN ('PRJTEST1', 'PRJEDGE')
       |ORDER BY bioproject, attributes, "values"""".stripMargin
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("pickle_migrate", pickleMigrateQuery _, Some(pickleMigrateSql)),
      ("pickle_ds_scan", pickleDsQuery _, Some(pickleDsSql)),
      ("mwas_corpus_stats", corpusStatsQuery _, Some(corpusStatsSql)),
      ("stream_mwas", streamMwasQuery _, Some(pipelineTSql)),
      ("mwas_condense", condenseQuery _, Some(condenseSql)),
      ("mwas_pipeline_stats", pipelineStatsQuery _, Some(pipelineStatsSql)),
      ("mwas_pipeline_full", pipelineQuery _, Some(pipelineFullSql)),
      ("mwas_results_analyze", resultsAnalyzeQuery _,
        Some(resultsAnalyzeSql)),
      ("mwas_set_expand", setExpandQuery _, Some(setExpandSql)),
      ("mwas_pipeline_ttest", pipelineTQuery _, Some(pipelineTSql)),
      ("mwas_policy_filter", policyQuery _, Some(policySql)))
}
