package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Semantic deduplication (SemDedup, Abbas et al. 2023): cluster the
  * embedding space with a cheap coarse quantizer, then prune
  * semantically-near pairs ONLY within each cluster — the clustering
  * bounds the quadratic pairwise term to O(Σ cᵏ²) instead of O(N²),
  * which is the entire reason the technique scales to web corpora (the
  * paper runs K ≈ 10⁵ clusters over 10⁸ embeddings; K is the knob that
  * keeps cᵏ = N/K bounded as N grows).
  *
  * This differs from [[DedupQueries.dedupEmbComponents]] (threshold graph
  * + connected components → cluster ids) in what it KEEPS: SemDedup makes
  * a survivorship decision — drop a vector when any already-kept earlier
  * vector in its cluster is within ε — which is the shape training-data
  * curation actually deploys (one representative survives, the rest are
  * pruned before tokenization).
  *
  * Determinism/oracle: the quantizer is the house FROZEN data-sampled
  * codebook (first `k` vectors by vec_id — see [[IvfQueries.annIvfAssign]]),
  * so assignment, the within-cell prior set, and every cosine are exact
  * functions of the corpus, and DuckDB re-derives the identical relation
  * from the same parquet — the operator hash-oracles end to end
  * (`max_prior_cos` rounded to 6dp; the keep decision compares the
  * UNROUNDED value on both engines, with driftaudit guarding the
  * boundary).
  *
  * Survivorship note: this implements the paper's one-shot variant —
  * priors are ALL earlier cluster-mates, not just earlier *survivors*
  * (the sequential variant is inherently iterative; the one-shot prune
  * is what runs distributed, and it only ever drops MORE than the
  * sequential rule, never less — still ε-duplicate-free).
  *
  * Plan shape: assignment ranks k broadcast centroids per vector (narrow
  * row_number window keyed on vec_id); the pairwise join shuffles on cell
  * id only; the per-vector max-over-priors is a single max-struct
  * aggregation (no sort). Nothing all-pairs, nothing on the driver.
  */
object SemDedupQueries {

  private val k = 16 // clusters; fixture-sized stand-in for the paper's 1e5
  private val tau = 0.35 // ε: max-cosine a survivor may have to a prior

  /** Frozen-quantizer cell assignment: (vec_id, cell, v, nrm) under the
    * first-`kCells`-by-vec_id codebook — shared by [[semDedup]] and the
    * cell-bounded clustering arm
    * ([[DedupQueries.dedupEmbComponentsCells]]). */
  private[operators] def cellAssign(s: SparkSession, dir: String,
      kCells: Int): DataFrame = {
    val dot = graft.functions.VectorOps.dot_product _
    val v = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = v.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"), col("v").as("ce"),
        dot(col("v"), col("v")).as("csq"))
    // argmin |v−c|² with the algebraic expansion (|v|² rank-invariant,
    // kept for tie parity with the oracle); deterministic tie-break on
    // cell via lexicographic min(struct(dist, cell)) — selection-equal
    // to the oracle's row_number ORDER BY (dist, cell), but it PARTIAL
    // AGGREGATES map-side: the N×K fan-out collapses to one row per
    // vector before the exchange, where the former window formulation
    // shuffled and sorted all N×K rows (wall-visible once K is
    // data-derived — K ∝ N makes the fan-out grow quadratically).
    // first(v)/first(nrm) are group-constant (every fan-out row carries
    // the same vector), so the nondeterminism caveat is vacuous.
    v.repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      // explicit-width streamed side: the N×K fan-out must not run at
      // input-split parallelism (one task for a single-file table) —
      // the DedupQueries.exactNn r15 audit lesson
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("nrm") * col("nrm") - lit(2.0) * dot(col("v"), col("ce")) +
          col("csq"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cell"))).as("mc"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("mc").getField("cell").as("cell"),
        col("v"), col("nrm"))
  }

  /** The matching DuckDB CTE block (n → centroids → ranked assignment →
    * `a` = (vec_id, cell, e, nrm)) — the SQL twin of [[cellAssign]],
    * shared by [[semDedupSql]] and the cell-bounded clustering oracle. */
  private[operators] def cellCtesSql(kCells: Int): String =
    cellCtesSqlExpr(kCells.toString)

  /** [[cellCtesSql]] with the cell count as an arbitrary SQL scalar
    * expression — the data-derived-K consumer
    * ([[DedupQueries.dedupEmbComponentsCells]]) passes the same
    * integer-exact count formula the Spark side evaluates, so both
    * engines derive the identical codebook from the data. */
  private[operators] def cellCtesSqlExpr(kCells: String): String =
    s"""n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
      |        sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |          x -> x * x))) AS nrm
      |      FROM embeddings),
      |c AS (SELECT vec_id AS cell, e AS ce,
      |        list_sum(list_transform(e, x -> x * x)) AS csq
      |      FROM n WHERE vec_id < $kCells),
      |rk AS (SELECT n.vec_id, c.cell, n.e, n.nrm,
      |         row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |           n.nrm * n.nrm
      |             - 2.0 * list_sum(list_transform(list_zip(n.e, c.ce),
      |                 z -> z[1] * z[2]))
      |             + c.csq, c.cell) AS r
      |       FROM n CROSS JOIN c),
      |a AS (SELECT vec_id, cell, e, nrm FROM rk WHERE r = 1)""".stripMargin

  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val dot = graft.functions.VectorOps.dot_product _
    val assign = cellAssign(s, dir, k)
    val priors = assign.select(col("cell"), col("vec_id").as("prior_id"),
      col("v").as("vb"), col("nrm").as("nrmb"))
    val sims = assign.join(priors, Seq("cell"))
      .filter(col("prior_id") < col("vec_id"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(count(lit(1)).as("n_prior"),
        max(dot(col("v"), col("vb")) / (col("nrm") * col("nrmb")))
          .as("mc"))
    assign.select(col("vec_id"), col("cell"))
      .join(sims.drop("cell"), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        round(coalesce(col("mc"), lit(-1.0)), 6).as("max_prior_cos"),
        when(coalesce(col("mc"), lit(-1.0)) >= tau, lit(0L))
          .otherwise(lit(1L)).as("keep"))
      .orderBy(col("vec_id"))
  }

  val semDedupSql: String =
    s"""WITH ${cellCtesSql(k)},
      |sims AS (SELECT x.vec_id, count(*) AS n_prior,
      |           max(list_sum(list_transform(list_zip(x.e, p.e),
      |             z -> z[1] * z[2])) / (x.nrm * p.nrm)) AS mc
      |         FROM a x JOIN a p ON x.cell = p.cell
      |           AND p.vec_id < x.vec_id
      |         GROUP BY x.vec_id)
      |SELECT a.vec_id, a.cell,
      |       CAST(coalesce(s.n_prior, 0) AS BIGINT) AS n_prior,
      |       round(coalesce(s.mc, -1.0), 6) AS max_prior_cos,
      |       CAST(CASE WHEN coalesce(s.mc, -1.0) >= $tau THEN 0 ELSE 1 END
      |         AS BIGINT) AS keep
      |FROM a LEFT JOIN sims s ON a.vec_id = s.vec_id
      |ORDER BY a.vec_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("semdedup", semDedup _, Some(semDedupSql)))
}
