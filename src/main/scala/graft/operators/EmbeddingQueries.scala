package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Embedding-column transforms a training pipeline runs BEFORE the
  * similarity/dedup stages: dimensionality reduction and storage
  * quantization. Both are deterministic functions of (corpus, pinned
  * constants), so both get the full cross-engine hash oracle — the same
  * posture `ann_lsh_bucket` takes (pinned planes turn "approximate" into
  * "exact given the model").
  *
  * Scale notes:
  *   - projection: per-row only — K native dot products against broadcast
  *     literal vectors inside one WholeStageCodegen span; zero shuffles
  *     except the presentation orderBy. At 100 TB this is a map-only pass.
  *   - quantization: the per-dimension min/max "model fit" aggregates
  *     D = 64 rows (algebraic MIN/MAX, map-side combined); codes join back
  *     against that broadcast relation (no shuffle), and only the
  *     signature re-assembly groups by vec_id. At real scale the
  *     re-assembly shuffle disappears: keep the codes as a per-row array
  *     computed against the broadcast bounds instead of exploding —
  *     documented here, measured unnecessary at test SFs where the
  *     explode path keeps every expression codegen'd.
  */
object EmbeddingQueries {

  private val D = 64 // embedding width of the `embeddings` table
  private val K = 8  // projected width

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))

  // ----------------------------------- E1: sparse random projection (JL)

  /** Achlioptas sparse projection signs in {-1, 0, +1} (density 1/3),
    * derived from a pure int64 LCG so the Spark plan and the generated
    * DuckDB oracle share literally the same matrix without a float RNG. */
  private[operators] def rpSign(k: Int, d: Int): Double = {
    val m = (1103515245L * (k * D + d) + 12345L) % 2147483648L
    (m % 6) match {
      case 0 => 1.0
      case 1 => -1.0
      case _ => 0.0
    }
  }

  private[operators] val rpScale: Double = math.sqrt(3.0 / K)

  /** Johnson–Lindenstrauss reduction 64 → 8 dims: p_k = sqrt(3/K) · v·r_k
    * with the pinned sparse sign matrix. Downstream ANN/clustering run on
    * an 8× narrower column at ~unchanged pairwise geometry (JL lemma);
    * this query materializes the projected columns themselves. */
  def embProjectRp(s: SparkSession, dir: String): DataFrame = {
    val projected = (0 until K).map { k =>
      val r = typedLit((0 until D).map(d => rpSign(k, d)))
      round(graft.functions.VectorOps.dot_product(col("v"), r) * rpScale, 6)
        .as(s"p$k")
    }
    vecs(s, dir)
      .select(col("vec_id") +: col("label") +: projected: _*)
      .orderBy(col("vec_id"))
  }

  /** Generated oracle: the sign matrix and the scale constant are rendered
    * from the same Scala definitions the plan compiles in (shortest
    * round-trip doubles parse back bit-identical — the `annLshBucketSql`
    * convention). */
  val embProjectRpSql: String = {
    val cols = (0 until K).map { k =>
      val lits = (0 until D).map(d => rpSign(k, d)).mkString(", ")
      s"  round(list_sum(list_transform(list_zip(embedding::DOUBLE[], " +
        s"[$lits]::DOUBLE[]), s -> s[1] * s[2])) * $rpScale, 6) AS p$k"
    }
    s"""SELECT vec_id, label,
       |${cols.mkString(",\n")}
       |FROM embeddings ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------- E2: int8 scalar quantization

  /** Global per-dimension min/max scalar quantization to uint8 codes —
    * the standard 4× embedding-storage compressor. Codes are
    * floor((x − mn_d) · 255 / (mx_d − mn_d)) clamped to 255 (floor, not
    * round: unambiguous half-way semantics cross-engine). The code string
    * goes out '; '-joined (house array rule); the saturation count is the
    * quality probe (a clipped dimension means the corpus outgrew the
    * bounds). Constant dimension (mx = mn) → code 0. */
  def embQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("pos", "x")))
    val bounds = e.groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val coded = e.join(broadcast(bounds), Seq("pos"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("x") - col("mn")) * 255.0 / (col("mx") - col("mn"))),
            lit(255.0)).cast("long")))
    coded.groupBy(col("vec_id"))
      .agg(
        // |D|-sized arrays post-aggregate — the interpreted transform runs
        // on one row per vector, not per element (annLshBucket precedent)
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("code")))),
          t => t.getField("code").cast("string")), "; ").as("codes"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"),
        sum(when(col("code") === 255L, 1L).otherwise(0L)).as("n_saturated"))
      .orderBy(col("vec_id"))
  }

  val embQuantizeInt8Sql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |b AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM e GROUP BY pos),
      |c AS (
      |  SELECT vec_id, pos,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(least(floor((x - mn) * 255.0 / (mx - mn)), 255.0)
      |                AS BIGINT) END AS code
      |  FROM e JOIN b USING (pos))
      |SELECT vec_id,
      |  array_to_string(list(code::VARCHAR ORDER BY pos), '; ') AS codes,
      |  CAST(min(code) AS BIGINT) AS code_min,
      |  CAST(max(code) AS BIGINT) AS code_max,
      |  CAST(sum(CASE WHEN code = 255 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_saturated
      |FROM c GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // --------------------------------------- E3: dimension health statistics

  /** Per-dimension embedding health — the diagnostic run before any
    * similarity work ships: mean/sd (dead or near-constant dimensions
    * contribute nothing but storage), min/max (scale imbalance that
    * wrecks unnormalized distances). One algebraic pass: everything
    * derives from (Σx, Σx², min, max, n) per dimension, so the plan is
    * a single map-side-combined aggregate over the posexploded relation
    * — no second pass, no window. The sd is the manual population form
    * √(Σx²/n − mean²) (the `anomaly_zscore` convention: both engines
    * compute the same formula rather than trusting two different
    * builtin stddev implementations). */
  def embDimStats(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir)
      .select(posexplode(col("v")).as(Seq("pos", "x")))
    val mean = col("sx") / col("n")
    // greatest(…, 0): FP residual can land the variance of a CONSTANT
    // dimension a hair negative (NaN sqrt) — and on opposite signs in
    // the two engines. The house clamp convention (IvfQueries,
    // MwasPipelineQueries), applied to exactly the dead-dim case this
    // query exists to flag.
    val sd = sqrt(greatest(col("sxx") / col("n") - mean * mean, lit(0.0)))
    e.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
      .select(col("pos").cast("long").as("pos"),
        round(mean, 6).as("mean"),
        round(sd, 6).as("sd"),
        col("mn"), col("mx"),
        (sd < 1e-6).as("dead"))
      .orderBy(col("pos"))
  }

  val embDimStatsSql: String =
    """WITH e AS (
      |  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
      |           AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |a AS (
      |  SELECT pos, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
      |         min(x) AS mn, max(x) AS mx
      |  FROM e GROUP BY pos),
      |m AS (
      |  SELECT pos, sx / n AS mean0,
      |    sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0)) AS sd0,
      |    mn, mx
      |  FROM a)
      |SELECT pos, round(mean0, 6) AS mean, round(sd0, 6) AS sd,
      |  mn, mx, sd0 < 1e-6 AS dead
      |FROM m ORDER BY pos""".stripMargin

  // --------------------------- E4: deterministic PCA (power iteration)

  /** Top principal component of the embedding cloud by power iteration —
    * made CROSS-ENGINE DETERMINISTIC by construction, which is the hard
    * part of distributed PCA as a hash-oracled relation (a float
    * covariance sum is accumulation-order-dependent; two engines — or
    * two partitionings — disagree in the last ulps and the iteration
    * amplifies the disagreement):
    *
    *   1. quantize: v = round(x·10⁶) :: int64 (the long-cents house
    *      rule). Exact from here on.
    *   2. center without division: c_ij = n·v_ij − S_j (S_j = Σ_i v_ij)
    *      — exact int64, no rational mean.
    *   3. covariance numerators C_jk = Σ_i c_ij·c_ik as DECIMAL(38,0) —
    *      exact integer sums, ANY addend order gives the same value, so
    *      partitioning cannot matter. One shuffle at (j,k) grain
    *      (64×64 = 4096 groups); the input is the self-join of the
    *      (i,j,c) relation on i — Σ|vec|·D² products, the standard
    *      covariance pass.
    *   4. scale to cov = round(C/(10¹²·n³)·10⁶, 6)·… — C cast to double
    *      (correctly rounded, same everywhere), divided by an
    *      identically-computed double constant, round-6, then cast to
    *      DECIMAL(12,6) (kept narrow so decimal PRODUCTS stay inside
    *      precision 38 in BOTH engines — wider operands make Spark
    *      round each product to scale 6 under allowPrecisionLoss while
    *      DuckDB does not, and the iteration amplifies the ulps into
    *      real divergence; caught by the oracle): the true value is a 6-place decimal and the
    *      double is its nearest representative, so the cast recovers it
    *      exactly in both engines.
    *   5. iterate in decimal: y_j = Σ_k cov_jk·w_k is an EXACT decimal
    *      sum (order-free); the per-round renormalization
    *      w' = round(y/‖y‖, 6) passes through double sqrt — a
    *      correctly-rounded IEEE op — and re-quantizes to 6 places.
    *      8 rounds from the exact start w₀ = 0.125.
    *
    * Every stage is either exact or a correctly-rounded scalar op on
    * identical inputs, so Spark and DuckDB (and any executor count)
    * produce bit-identical loadings — the generated oracle replays the
    * same ladder with 8 unrolled CTEs. PcaSpec pins the ladder against
    * the SAME 8 rounds in float64 (|cos| ≥ 0.999 — quantization error
    * only) plus spectral-progress gates; determinism is the relation's
    * job. Convergence honesty: 8 rounds are partial on a flat spectrum
    * — this fixture's clusterless noise has λ₂/λ₁ ≈ 0.97, so the
    * 8-round iterate is |cos| ≈ 0.36 from the converged eigenvector
    * ((λ₂/λ₁)⁸ ≈ 0.78 residual, the power method's own physics). Real
    * embedding clouds have spectral gaps; where they don't, rounds is
    * the knob and each round is one broadcast-join + exact-decimal
    * aggregate over a 4096-row relation — O(1) cost at any corpus
    * scale, since everything after the covariance pass is
    * dimension-sized. Output: (dim, loading round-6, eigenvalue
    * round-6 — the Rayleigh quotient, constant column). */
  /** Quantize a (vec_id, v: array<double>) relation to the exact int64
    * (vec_id, j, vq) grain — step 1 of the ladder, shared with the
    * streaming twin's per-batch partials ([[StreamingPcaQueries]]). */
  private[operators] def pcaQuantized(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("v")).as(Seq("j", "x")))
      .select(col("vec_id"), col("j"),
        round(col("x") * 1e6).cast("long").as("vq"))

  /** The fit: centered relation, covariance, converged 8-round iterate,
    * and n — shared by the loadings query and the projection. */
  private def pcaFit(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val n = Tables(s, dir, "embeddings").count() // scalar, model-sized
    // WIDTH PIN on the self-join key (r16): every pass below descends
    // from the embeddings scan through narrow ops only, so a
    // single-file fixture runs the quantize→explode→center ladder AND
    // the D²-per-vector covariance fan-out at file-count parallelism
    // (measured: one 3.6 s serial task at sf0.1 doing ~everything).
    // One vec_id-hash shuffle of the raw vectors (linear bytes) fixes
    // the width of the whole fit: explode/broadcast-join/select all
    // preserve the partitioning, the checkpoint freezes it, and the
    // covariance self-join on vec_id becomes co-partitioned —
    // zero-exchange — on both sides. The width is EXPLICIT: a keyed
    // repartition without a number is AQE-byte-coalesced (~30 MB of
    // quantized rows → 1 partition, re-freezing the serial layout —
    // the curation-stream lesson, re-measured here).
    val q = pcaQuantized(vecs(s, dir).select(col("vec_id"), col("v"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id")))
    val sums = q.groupBy(col("j")).agg(sum(col("vq")).as("sj"))
    val centered = q.join(broadcast(sums), Seq("j"))
      .select(col("vec_id"), col("j"),
        (lit(n) * col("vq") - col("sj")).as("c"))
      .localCheckpoint() // two consumers (both sides of the self-join)
    val scale = 1e12 * n.toDouble * n.toDouble * n.toDouble
    val cov = centered.alias("a")
      .join(centered.alias("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.j").as("j"), col("b.j").as("k"))
      // cast BEFORE the multiply: c ~ n·10⁶·|x| reaches 3·10¹⁰ at 60k
      // vectors and c·c overflows int64 (ANSI caught it loudly at the
      // 30× fixture); the decimal×long product is exact at any n — the
      // oracle's HUGEINT multiply is the same shape
      .agg(sum(col("a.c").cast("decimal(38,0)") * col("b.c")).as("cnum"))
      .select(col("j"), col("k"),
        round(col("cnum").cast("double") / lit(scale), 6)
          .cast("decimal(12,6)").as("cov"))
      .localCheckpoint() // read once per iteration round
    (centered, cov, pcaIterate(s, cov), n)
  }

  /** Steps 5's 8 exact-decimal power-iteration rounds over a fitted
    * (j, k, cov DECIMAL(12,6)) relation — shared by the batch fit and the
    * streaming twin's readout so both iterate through literally the same
    * plan fragments. */
  private[operators] def pcaIterate(s: SparkSession, cov: DataFrame)
      : DataFrame = {
    var w = s.range(D).select(col("id").as("k"),
      lit(BigDecimal("0.125000")).cast("decimal(12,6)").as("w"))
    (1 to 8).foreach { _ =>
      val y = cov.join(broadcast(w), Seq("k"))
        .groupBy(col("j"))
        .agg(sum(col("cov") * col("w")).as("y")) // exact decimal sum
      // y is tiny (< 1): re-narrow to decimal(14,12) so the SQUARE is
      // exact too — squaring the wide sum type overflows precision 38
      // and Spark's allowPrecisionLoss crushes its scale to 6 (y² ~ 4e-6
      // rounded to one significant digit; caught by the oracle as a 1%
      // norm error)
      val norm = y.select(col("y").cast("decimal(14,12)").as("yn"))
        .agg(sqrt(sum(col("yn") * col("yn")).cast("double")).as("nrm"))
      // checkpoint the 64-row iterate: y feeds BOTH the norm and the
      // update, so an unbroken lineage doubles per round (~2^rounds plan
      // — a 101k-line snapshot and planner-bound wall time; the BPE
      // per-round-checkpoint precedent)
      w = y.crossJoin(broadcast(norm))
        .select(col("j").as("k"),
          round(col("y").cast("double") / col("nrm"), 6)
            .cast("decimal(12,6)").as("w"))
        .localCheckpoint()
    }
    w
  }

  /** The loadings + Rayleigh-quotient tail — shared by [[embPcaPower]]
    * and the streaming twin's readout. */
  private[operators] def pcaLoadings(cov: DataFrame, w: DataFrame)
      : DataFrame = {
    val eig = cov.join(broadcast(w.withColumnRenamed("w", "wk")), Seq("k"))
      .join(broadcast(w.select(col("k").as("j"),
        col("w").as("wj"))), Seq("j"))
      // sum the exact decimal products, cast once: a double sum over
      // 4096 terms would be accumulation-order-dependent
      .agg(sum(col("wj") * col("cov") * col("wk")).cast("double")
        .as("rayleigh"))
    w.crossJoin(broadcast(eig))
      .select(col("k").cast("long").as("dim"),
        col("w").cast("double").as("loading"),
        round(col("rayleigh"), 6).as("eigenvalue"))
      .orderBy(col("dim"))
  }

  def embPcaPower(s: SparkSession, dir: String): DataFrame = {
    val (_, cov, w, _) = pcaFit(s, dir)
    pcaLoadings(cov, w)
  }

  /** PCA transform — per-vector score on the fitted component,
    * CENTERED: score_i = Σ_j (x_ij − mean_j)·w_j, evaluated as the
    * exact-decimal Σ c_ij·w_j / (10⁶·n) (c is the division-free
    * centered int64 from the fit; the product decimal(20,0)×(12,6) is
    * exact in both engines, the one double division + round-6 is
    * correctly rounded). Same determinism posture as the fit; the
    * projection join is (vec, dim)-grain against the broadcast 64-row
    * component — a map-side pass at any corpus size. */
  def embPcaProject(s: SparkSession, dir: String): DataFrame = {
    val (centered, _, w, n) = pcaFit(s, dir)
    centered
      .join(broadcast(w.select(col("k").as("j"), col("w"))), Seq("j"))
      .groupBy(col("vec_id"))
      .agg(sum(col("c").cast("decimal(20,0)") * col("w")).as("sraw"))
      .select(col("vec_id"),
        round(col("sraw").cast("double") / (lit(1e6) * lit(n.toDouble)), 6)
          .as("score"))
      .orderBy(col("vec_id"))
  }

  /** Generated oracle: the same quantize→center→decimal ladder with the
    * 8 power-iteration rounds unrolled as CTEs. The shared CTEs are
    * `AS MATERIALIZED`: without the hint DuckDB inlines `cov` into every
    * chained round and the expression tree grows ~2^rounds (measured:
    * minutes → 0.4 s). */
  private val pcaLadderSql: String = {
    val rounds = (1 to 8).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""y$r AS MATERIALIZED (
         |  SELECT cov.j, sum(cov.cov * $prev.w) AS y
         |  FROM cov JOIN $prev ON cov.k = $prev.k GROUP BY cov.j),
         |n$r AS (SELECT sqrt(CAST(sum(yn * yn) AS DOUBLE)) AS nrm FROM
         |  (SELECT CAST(y AS DECIMAL(14,12)) AS yn FROM y$r)),
         |w$r AS MATERIALIZED (SELECT y$r.j AS k,
         |  CAST(round(CAST(y AS DOUBLE) / n$r.nrm, 6) AS DECIMAL(12,6)) AS w
         |  FROM y$r CROSS JOIN n$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
       |           AS j,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
       |           AS vq
       |  FROM embeddings),
       |nn AS MATERIALIZED (SELECT count(DISTINCT vec_id) AS n FROM q),
       |sums AS MATERIALIZED (SELECT j, sum(vq) AS sj FROM q GROUP BY j),
       |centered AS MATERIALIZED (
       |  SELECT q.vec_id, q.j, nn.n * q.vq - sums.sj AS c
       |  FROM q JOIN sums ON q.j = sums.j CROSS JOIN nn),
       |cov AS MATERIALIZED (
       |  SELECT a.j, b.j AS k,
       |    CAST(round(CAST(sum(CAST(a.c AS HUGEINT) * b.c) AS DOUBLE) /
       |      (1e12 * nn.n * nn.n * nn.n), 6) AS DECIMAL(12,6)) AS cov
       |  FROM centered a JOIN centered b ON a.vec_id = b.vec_id
       |  CROSS JOIN nn
       |  GROUP BY a.j, b.j, nn.n),
       |w0 AS (SELECT j AS k, CAST(0.125000 AS DECIMAL(12,6)) AS w
       |       FROM (SELECT DISTINCT j FROM sums)),
       |$rounds""".stripMargin
  }

  val embPcaPowerSql: String =
    s"""$pcaLadderSql,
       |eig AS (
       |  SELECT CAST(sum(wj.w * cov.cov * wk.w) AS DOUBLE) AS rayleigh
       |  FROM cov JOIN w8 wk ON cov.k = wk.k
       |  JOIN w8 wj ON cov.j = wj.k)
       |SELECT w8.k AS dim, CAST(w8.w AS DOUBLE) AS loading,
       |       round(eig.rayleigh, 6) AS eigenvalue
       |FROM w8 CROSS JOIN eig
       |ORDER BY dim""".stripMargin

  val embPcaProjectSql: String =
    s"""$pcaLadderSql,
       |proj AS (
       |  SELECT c.vec_id, sum(CAST(c.c AS DECIMAL(20,0)) * w8.w) AS sraw
       |  FROM centered c JOIN w8 ON c.j = w8.k GROUP BY c.vec_id)
       |SELECT vec_id,
       |       round(CAST(sraw AS DOUBLE) / (1e6 * nn.n), 6) AS score
       |FROM proj CROSS JOIN nn
       |ORDER BY vec_id""".stripMargin

  // --------------------------- E6: margin-based bitext mining

  /** Cross-corpus pair mining by RATIO MARGIN (Artetxe & Schwenk,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings", ACL 2019): for source x and its nearest target y,
    * margin(x,y) = cos(x,y) / ((avg_k cos(x, NN_B(x)) +
    * avg_k cos(y, NN_A(y))) / 2) — raw cosine is miscalibrated across
    * hubs (some vectors are near EVERYTHING), the margin normalizes by
    * both endpoints' neighborhood densities, and the public threshold
    * ~1.05 separates true pairs from hubs. Sides here: label < 5 vs
    * label ≥ 5 on the embeddings table (the fixture's stand-in for two
    * languages/corpora).
    *
    * Cross-engine determinism is the PCA/k-means posture: per-pair
    * cosine is round-6 and CAST TO DECIMAL(12,6) immediately, so the
    * k-NN ranks order on exact decimals (no float tie hazard), the
    * neighborhood sums are exact decimal sums, and the margin is one
    * correctly-rounded double expression over exact operands
    * (2·cos·n_f·n_b / (sum_f·n_b + sum_b·n_f) — the rational mean
    * cross-multiplied into integer-scaled decimals, then one division
    * + round-6). Hash-oracled.
    *
    * Scale: the A×B sweep is the oracle-direct baseline (the
    * ann_cosine_topk posture; target side broadcast, model-sized at
    * test SFs — at 100 TB the pair relation comes from the IVF/LSH
    * candidate stage instead, and everything from `cosr` down is
    * per-candidate relational algebra on the candidate grain). The
    * pair relation is localCheckpoint'd: the two neighborhood
    * consumers would otherwise each recompute the dot products.
    *
    * r14 slope-audit lever, measured: the two `row_number` windows
    * were the 10× wall — each is a FULL SORT of the |A|·|B| pair
    * relation (100M rows at 10×; 391 s median, slope 159× vs ~2.5 s at
    * 1×). Both neighborhood ranks are k-bounded top-k per group, which
    * is [[graft.plans.TopKPerGroup]]'s exact contract: a bounded
    * k-heap per group, O(n log k), NO sort, partial before the
    * exchange so at most groups·k rows shuffle. Same total order
    * (cosr DESC, id ASC — pairs are unique per (src,tgt), so ties
    * cannot flip), bit-identical output, windows gone. `best` (rank 1)
    * is a k=1 re-top over the |A|·k forward remnant, not a third pass
    * over the pairs. */
  def bitextMarginMine(s: SparkSession, dir: String): DataFrame = {
    val k = 4
    val v = vecs(s, dir).withColumn("nrm",
      sqrt(graft.functions.VectorOps.dot_product(col("v"), col("v"))))
    // the probe side sets the sweep's parallelism: a model-sized vector
    // table arrives as ONE file split, and a 1-partition probe side runs
    // the whole |A|·|B| nested-loop sweep as a single task (measured at
    // 10×: 276 s single-task → 96 s under an argless repartition that
    // AQE promptly coalesced — the INPUT is 10k tiny rows, but the
    // OUTPUT each task fans into is |partition|·|B| pairs, which AQE
    // cannot see → EXPLICIT width, exempt from coalescing). The 10k-row
    // shuffle is free next to the sweep it parallelizes.
    val a = v.filter(col("label") < 5)
      .select(col("vec_id").as("src_id"), col("v").as("va"),
        col("nrm").as("na"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val b = v.filter(col("label") >= 5)
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"),
        col("nrm").as("nb"))
    val pairs = a.crossJoin(broadcast(b))
      .withColumn("cosr",
        round(graft.functions.VectorOps.dot_product(col("va"), col("vb")) /
          (col("na") * col("nb")), 6).cast("decimal(12,6)"))
      .select(col("src_id"), col("tgt_id"), col("cosr"))
      .localCheckpoint()
    val fwdTop = graft.plans.TopK.perGroup(pairs, Seq(col("src_id")),
      Seq(col("cosr").desc, col("tgt_id").asc), k).localCheckpoint()
    val bwdTop = graft.plans.TopK.perGroup(pairs, Seq(col("tgt_id")),
      Seq(col("cosr").desc, col("src_id").asc), k)
    val fwdAgg = fwdTop.groupBy(col("src_id"))
      .agg(sum(col("cosr")).as("sum_f"), count(lit(1)).as("n_f"))
    val bwdAgg = bwdTop.groupBy(col("tgt_id"))
      .agg(sum(col("cosr")).as("sum_b"), count(lit(1)).as("n_b"))
    val best = graft.plans.TopK.perGroup(fwdTop, Seq(col("src_id")),
      Seq(col("cosr").desc, col("tgt_id").asc), 1)
    marginReadout(best.select(col("src_id"), col("tgt_id"), col("cosr")),
      fwdAgg, bwdAgg)
  }

  /** The margin formula, shared by the batch query and its streaming
    * twin so the two cannot drift: one correctly-rounded double
    * expression over exact-decimal operands (see [[bitextMarginMine]]). */
  private def marginReadout(best: DataFrame, fwdAgg: DataFrame,
      bwdAgg: DataFrame): DataFrame =
    best
      .join(fwdAgg, Seq("src_id"))
      .join(bwdAgg, Seq("tgt_id"))
      .withColumn("margin", round(
        col("cosr").cast("double") *
          (lit(2L) * col("n_f") * col("n_b")).cast("double") /
          (col("sum_f") * col("n_b") + col("sum_b") * col("n_f"))
            .cast("double"), 6))
      .select(col("src_id"), col("tgt_id"),
        col("cosr").cast("double").as("cosine"), col("margin"),
        (col("margin") >= 1.05).as("accepted"))
      .orderBy(col("src_id"))

  /** Streaming twin of [[bitextMarginMine]] — target corpus arrives in
    * batches (the production shape: the source side is your corpus, the
    * target side is a crawl that keeps landing). A NEW minimal-state
    * class for the §2.9 taxonomy: '''static-side k-NN maintenance'''.
    *
    *   - backward neighborhoods (each target's k-NN IN THE STATIC
    *     SOURCE SIDE) are COMPLETE the moment the target arrives — the
    *     store is append-only, one (tgt, Σcos, n) row per target, ever.
    *   - forward neighborhoods (each source's k-NN over targets seen so
    *     far) are a per-source bounded top-k heap: top-k(state ∪ batch)
    *     = top-k(top-k(state) ∪ batch) — the heap property makes the
    *     k-row remnant the WHOLE state, |A|·k rows regardless of how
    *     many targets ever arrive. Ranks order on the exact
    *     DECIMAL(12,6) grid, so merge order cannot flip ties.
    *   - the margin readout re-runs per trigger over those two
    *     dimension-sized relations via the SAME [[marginReadout]] as
    *     the batch query.
    *
    * Per-batch work: |A|×|batch| candidate cosines (at 100 TB, the
    * ANN-candidate stage replaces the sweep exactly as in the batch
    * query) + a |A|·2k-row rank. Oracle: literally the batch SQL —
    * after the last batch the state equals the batch query's
    * neighborhoods by the merge identity above. */
  def streamBitextMine(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{CarriedState, pathTag,
      releaseCheckpoint, runBatches, scratchDir, stageThirds,
      withShufflePartitions}
    val k = 4
    val v = vecs(s, dir).withColumn("nrm",
      sqrt(graft.functions.VectorOps.dot_product(col("v"), col("v"))))
    val a = v.filter(col("label") < 5)
      .select(col("vec_id").as("src_id"), col("v").as("va"),
        col("nrm").as("na"))
      // the static side's partition count IS the per-batch sweep's
      // parallelism for the stream's whole lifetime — same single-file
      // single-task hazard as the batch query, fixed the same way
      // (explicit width: AQE would coalesce the 10k-row exchange)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint() // the static side, reused by every trigger
    val b = v.filter(col("label") >= 5)
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"),
        col("nrm").as("nb"))
    val staging = stageThirds(
      "graft_stream_bitext_stage_" + pathTag(dir), b, "tgt_id")

    val base = scratchDir("graft_stream_bitext", dir)
    val bwdDir = s"$base/bwd"
    val resultDir = s"$base/result"
    val fwdState = new CarriedState

    runBatches(s, b.schema, staging) { batch =>
      val ss = batch.sparkSession
      withShufflePartitions(ss, Some("8")) {
        val pairs = a.crossJoin(broadcast(batch))
          .withColumn("cosr",
            round(graft.functions.VectorOps.dot_product(col("va"),
              col("vb")) / (col("na") * col("nb")), 6)
              .cast("decimal(12,6)"))
          .select(col("src_id"), col("tgt_id"), col("cosr"))
          .localCheckpoint() // two consumers: bwd store + fwd merge
        // backward store: complete on arrival, append IS the merge.
        // TopKPerGroup instead of a row_number window (the r14 batch
        // lever): the per-batch |A|×|batch| rank was a full sort per
        // trigger; the bounded k-heap prunes map-side, no sort
        graft.plans.TopK.perGroup(pairs, Seq(col("tgt_id")),
            Seq(col("cosr").desc, col("src_id").asc), k)
          .groupBy(col("tgt_id"))
          .agg(sum(col("cosr")).as("sum_b"), count(lit(1)).as("n_b"))
          .write.mode("append").parquet(bwdDir)
        // forward heap remnant: top-k of (remnant ∪ batch)
        val unioned = fwdState.current.fold(pairs)(_.select(col("src_id"),
          col("tgt_id"), col("cosr")).unionByName(pairs))
        val topk = graft.plans.TopK.perGroup(unioned, Seq(col("src_id")),
            Seq(col("cosr").desc, col("tgt_id").asc), k)
          .localCheckpoint()
        fwdState.advance(topk)
        // margin readout over the two dimension-sized relations
        val fwdAgg = topk.groupBy(col("src_id"))
          .agg(sum(col("cosr")).as("sum_f"), count(lit(1)).as("n_f"))
        marginReadout(graft.plans.TopK.perGroup(topk, Seq(col("src_id")),
            Seq(col("cosr").desc, col("tgt_id").asc), 1)
            .select(col("src_id"), col("tgt_id"), col("cosr")),
          fwdAgg, ss.read.parquet(bwdDir))
          .write.mode("overwrite").parquet(resultDir)
        releaseCheckpoint(pairs)
      }
    }
    // the readout is the result parquet: no checkpoint outlives the stream
    fwdState.release()
    releaseCheckpoint(a)

    s.read.parquet(resultDir)
      .select(col("src_id"), col("tgt_id"), col("cosine"), col("margin"),
        col("accepted"))
      .orderBy(col("src_id"))
  }

  val bitextMarginMineSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |           x -> x * x))) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
      |    CAST(round(list_sum(list_transform(list_zip(a.e, b.e),
      |      s -> s[1] * s[2])) / (a.nrm * b.nrm), 6) AS DECIMAL(12,6))
      |      AS cosr
      |  FROM n a JOIN n b ON a.label < 5 AND b.label >= 5),
      |r AS (
      |  SELECT src_id, tgt_id, cosr,
      |    row_number() OVER (PARTITION BY src_id
      |      ORDER BY cosr DESC, tgt_id) AS rkf,
      |    row_number() OVER (PARTITION BY tgt_id
      |      ORDER BY cosr DESC, src_id) AS rkb
      |  FROM p),
      |fa AS (SELECT src_id, sum(cosr) AS sum_f, count(*) AS n_f
      |       FROM r WHERE rkf <= 4 GROUP BY src_id),
      |ba AS (SELECT tgt_id, sum(cosr) AS sum_b, count(*) AS n_b
      |       FROM r WHERE rkb <= 4 GROUP BY tgt_id),
      |best AS (SELECT src_id, tgt_id, cosr FROM r WHERE rkf = 1),
      |m AS (
      |  SELECT best.src_id, best.tgt_id,
      |    CAST(cosr AS DOUBLE) AS cosine,
      |    round(CAST(cosr AS DOUBLE) * CAST(2 * n_f * n_b AS DOUBLE)
      |      / CAST(sum_f * n_b + sum_b * n_f AS DOUBLE), 6) AS margin
      |  FROM best JOIN fa USING (src_id) JOIN ba USING (tgt_id))
      |SELECT src_id, tgt_id, cosine, margin, margin >= 1.05 AS accepted
      |FROM m ORDER BY src_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("emb_project_rp", embProjectRp _, Some(embProjectRpSql)),
      ("emb_quantize_int8", embQuantizeInt8 _, Some(embQuantizeInt8Sql)),
      ("emb_dim_stats", embDimStats _, Some(embDimStatsSql)),
      ("emb_pca_power", embPcaPower _, Some(embPcaPowerSql)),
      ("emb_pca_project", embPcaProject _, Some(embPcaProjectSql)),
      ("bitext_margin_mine", bitextMarginMine _, Some(bitextMarginMineSql)),
      // streaming twin: same SQL — the state classes above reproduce the
      // batch neighborhoods exactly (merge identities in the scaladoc)
      ("stream_bitext_mine", streamBitextMine _, Some(bitextMarginMineSql)))
}
