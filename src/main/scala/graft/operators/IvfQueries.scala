package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** IVF (inverted-file) approximate nearest neighbor — the other classic
  * scale path next to the LSH variant: a k-means coarse quantizer assigns
  * every vector to a cell; a query probes its `nprobe` nearest cells and
  * searches only those inverted lists. The search shuffle is on cell id —
  * bucket-local, never all-pairs; the quantizer model is small and
  * broadcast as literals.
  *
  * Approximate by construction (centroid quality decides recall) → no
  * SQL oracle; the [[annIvf]] query wraps the NN relation in a recall@1
  * gate against the exact sweep.
  */
object IvfQueries {

  // chosen by the recall-vs-budget sweep (tools.AnnSweep, PLANS.md):
  // 0.81 recall@1 at 41% of a brute-force sweep on the adversarial
  // no-cluster fixture; clustered corpora do far better at the same
  // settings. nprobe/k = 1/4 keeps the probed fraction scale-free.
  private val defaultK = 32
  private val defaultNprobe = 8

  /** Per-vector IVF NN relation (vec_id, n_candidates, nn_id, cosine). */
  def annIvfNn(s: SparkSession, dir: String,
      k: Int = defaultK, nprobe: Int = defaultNprobe): DataFrame = {
    val v = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorOps.dot_product(col("v"), col("v"))))
    val ml = v.withColumn("features", array_to_vector(col("v")))

    // k-means|| init, 5 Lloyd iterations: a random-init variant was
    // measured (AnnSweep) and dropped recall@1 at the default nprobe
    // from 0.81 to 0.71 — the quantizer's cell balance IS the recall
    // lever, so the init passes earn their cost; halving the Lloyd
    // iterations from 10 loses nothing measurable. At real scale the
    // fit runs ONCE offline on a sample and the centroids ship as
    // literals; only assignment is per-row work.
    val model = new KMeans().setK(k).setSeed(11).setMaxIter(5)
      .setFeaturesCol("features").fit(ml)
    val assigned = model.transform(ml)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("prediction").as("cell"))

    // distance to each centroid as literal-array expressions (the model is
    // tiny; the data never leaves its partition for assignment). Expanded
    // algebraically — |v-c|² = |v|² - 2·v·c + |c|² — so the per-centroid
    // term is ONE codegen'd dot product, not an interpreted zip_with
    // lambda (|c|² folds to a literal; |v|² is rank-invariant but kept so
    // the probe order matches true L2 distance under ties).
    val centroids = model.clusterCenters.map(_.toArray)
    val dist2 = (c: Array[Double]) => {
      val lc = typedLit(c.toSeq)
      col("nrm") * col("nrm") -
        lit(2.0) * graft.functions.VectorOps.dot_product(col("v"), lc) +
        lit(c.map(x => x * x).sum)
    }
    val probes = array(
      (0 until k).map(i => struct(dist2(centroids(i)).as("d"),
        lit(i).as("cell"))): _*)
    val probed = assigned.withColumn("probe",
        explode(slice(array_sort(probes), 1, nprobe)))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("probe.cell").as("cell"))

    val lists = assigned.select(col("cell"), col("vec_id").as("nn_id"),
      col("v").as("vb"), col("nrm").as("nrmb"))
    val cand = probed.join(lists, Seq("cell"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos",
        graft.functions.VectorOps.dot_product(col("v"), col("vb")) /
          (col("nrm") * col("nrmb")))
    // single-pass argmax + count via the hash-aggregable
    // ArgMaxTiebreak (the max-struct spelling demoted this aggregate to
    // SortAggregate over the candidate fan-out — r15 audit)
    val top = cand.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_candidates"),
        graft.functions.ArgMax.arg_max_tiebreak(col("cos"), col("nn_id"))
          .as("c"))
      .select(col("vec_id"), col("n_candidates"),
        col("c.id").as("nn_id"), round(col("c.ord"), 6).as("cosine"))
    assigned.select(col("vec_id"))
      .join(top, Seq("vec_id"), "left_outer")
      .na.fill(Map("n_candidates" -> 0L))
      .orderBy(col("vec_id"))
  }

  /** The IVF query surface: recall@1 against the exact sweep as one
    * scalar row (see [[AnnRecall]]). */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    AnnRecall.summarize(annIvfNn(s, dir), DedupQueries.exactNn(s, dir))

  /** Per-label centroid + dispersion — the quantizer-training primitive
    * (and the embedding-table profile every vector pipeline runs) as a
    * first-class oracled query. Shape: posexplode to (label, dim) grain →
    * ONE keyed aggregation → re-assemble ordered arrays with
    * array_agg-over-sorted-struct. The shuffle key is (label, dim): at
    * 100 TB with D dims that is |labels|×D cells of (sum, count) — tiny —
    * and the explode is narrow, so the operator is one shuffle end to end.
    * No per-row interpreted lambdas anywhere (HOF means stay out of the
    * hot path; the assembly transform runs on |labels| rows only). */
  def embCentroids(s: SparkSession, dir: String): DataFrame = {
    val cell = Tables(s, dir, "embeddings")
      .select(col("label"), col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("x")).as("mu"),
        count(lit(1)).as("n"),
        sum(col("x") * col("x")).as("sumsq"))
    cell.groupBy(col("label"))
      .agg(
        max(col("n")).cast("long").as("n_vecs"),
        // ordered reassembly: collect (dim, mu) structs, sort by dim,
        // project mu — deterministic regardless of partition order
        sort_array(collect_list(struct(col("dim"), col("mu"))))
          .as("cells"),
        // clamp the FP residual: a zero-variance label's difference can
        // land a hair negative (NaN sqrt) in one engine and positive in
        // the other — same guard as Pipeline's sd columns
        round(sqrt(greatest(sum(col("sumsq") / col("n")) -
          sum(col("mu") * col("mu")), lit(0.0))), 6).as("dispersion"))
      .select(col("label"), col("n_vecs"),
        round(sqrt(aggregate(transform(col("cells"), c => c("mu") * c("mu")),
          lit(0.0), (a, x) => a + x)), 6).as("centroid_norm"),
        // fixed %.6f rendering on BOTH sides: raw double→string casts
        // disagree across engines on exponent/trailing-zero form
        array_join(transform(col("cells"),
          c => format_string("%.6f", c("mu"))), ",").as("centroid"),
        col("dispersion"))
      .orderBy(col("label"))
  }

  val embCentroidsSql: String =
    """WITH cell AS (
      |  SELECT label,
      |         CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |agg AS (
      |  SELECT label, dim, avg(x) AS mu, count(*) AS n,
      |         sum(x * x) AS sumsq
      |  FROM cell GROUP BY 1, 2)
      |SELECT label, CAST(max(n) AS BIGINT) AS n_vecs,
      |       round(sqrt(sum(mu * mu)), 6) AS centroid_norm,
      |       string_agg(printf('%.6f', mu), ',' ORDER BY dim) AS centroid,
      |       round(sqrt(greatest(sum(sumsq / n) - sum(mu * mu), 0)), 6)
      |         AS dispersion
      |FROM agg GROUP BY label ORDER BY label""".stripMargin

  /** Deterministic IVF with a FROZEN data-sampled codebook — the
    * hash-oracled twin of [[annIvfNn]] (r10 verdict item 1). The coarse
    * quantizer is the first `k` corpus vectors by vec_id (a sampled
    * codebook, the classic cheap init; production fits Lloyd iterations
    * offline — [[annIvfNn]] keeps that path plus its recall gate). With
    * the codebook pinned, assignment (argmin distance), the probe set
    * (nprobe nearest cells), the candidate set, and the argmax are all
    * deterministic functions of the corpus, so DuckDB re-derives the SAME
    * codebook from the same parquet and the whole operator hash-matches —
    * no literals to drift.
    *
    * Plan shape: the codebook relation is broadcast (k rows); distance
    * ranking is a per-vector window over k rows (narrow shuffle on
    * vec_id); the candidate join shuffles on cell id only — identical
    * scale story to [[annIvfNn]]. Distances expand algebraically
    * (|v−c|² = |v|² − 2·v·c + |c|²) as codegen'd dot products, with the
    * DuckDB side computing the literally-same expression tree so the
    * probe ranking agrees bit-for-bit. */
  def annIvfAssign(s: SparkSession, dir: String,
      k: Int = defaultK, nprobe: Int = defaultNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorOps.dot_product _
    val v = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val cents = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("v").as("ce"),
        dot(col("v"), col("v")).as("csq"))
    val ranked = v.crossJoin(broadcast(cents))
      .withColumn("dist",
        col("nrm") * col("nrm") - lit(2.0) * dot(col("v"), col("ce")) +
          col("csq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("rk"))
    val assign = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"))
    // probes as a '; '-joined STRING (house rule,
    // MwasPipelineQueries.condenseQuery): the driver's pandas compare
    // can't sort ARRAY cells; the join is a bijection on the rk-ordered
    // probe list — no information loss.
    val probeSig = ranked.filter(col("rk") <= nprobe)
      .groupBy(col("vec_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rk"), col("cell")))),
        e => e.getField("cell").cast("string")), "; ").as("probes"))
    val lists = assign
      .join(v, Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("nn_id"), col("v").as("vb"),
        col("nrm").as("nrmb"))
    val cand = ranked.filter(col("rk") <= nprobe)
      .join(lists, Seq("cell"))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos",
        dot(col("v"), col("vb")) / (col("nrm") * col("nrmb")))
    val top = cand.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_candidates"),
        graft.functions.ArgMax.arg_max_tiebreak(col("cos"), col("nn_id"))
          .as("c"))
      .select(col("vec_id"), col("n_candidates"),
        col("c.id").as("nn_id"), round(col("c.ord"), 6).as("cosine"))
    assign.join(probeSig, Seq("vec_id"))
      .join(top, Seq("vec_id"), "left_outer")
      .na.fill(Map("n_candidates" -> 0L))
      .select(col("vec_id"), col("cell"), col("probes"),
        col("n_candidates"), col("nn_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  val annIvfAssignSql: String =
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
      |        sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |          x -> x * x))) AS nrm
      |      FROM embeddings),
      |c AS (SELECT vec_id AS cell, e AS ce,
      |        list_sum(list_transform(e, x -> x * x)) AS csq
      |      FROM n WHERE vec_id < $defaultK),
      |d AS (SELECT n.vec_id, c.cell,
      |        n.nrm * n.nrm - 2.0 * list_sum(list_transform(
      |          list_zip(n.e, c.ce), s -> s[1] * s[2])) + c.csq AS dist
      |      FROM n CROSS JOIN c),
      |r AS (SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY dist, cell) AS rk
      |      FROM d),
      |asg AS (SELECT vec_id, cell FROM r WHERE rk = 1),
      |ps AS (SELECT vec_id,
      |         array_to_string(list(cell::VARCHAR ORDER BY rk),
      |           '; ') AS probes
      |       FROM r WHERE rk <= $defaultNprobe GROUP BY 1),
      |lists AS (SELECT a.cell, a.vec_id AS nn_id, n.e AS eb, n.nrm AS nrmb
      |          FROM asg a JOIN n ON n.vec_id = a.vec_id),
      |cand AS (SELECT r.vec_id, l.nn_id,
      |    list_sum(list_transform(list_zip(q.e, l.eb), s -> s[1] * s[2]))
      |      / (q.nrm * l.nrmb) AS cos
      |  FROM r JOIN lists l ON l.cell = r.cell AND r.rk <= $defaultNprobe
      |  JOIN n q ON q.vec_id = r.vec_id
      |  WHERE r.vec_id <> l.nn_id),
      |t AS (SELECT vec_id, nn_id, cos,
      |        count(*) OVER (PARTITION BY vec_id) AS n_cand,
      |        row_number() OVER (PARTITION BY vec_id
      |          ORDER BY cos DESC, nn_id) AS rk
      |      FROM cand)
      |SELECT a.vec_id, a.cell, ps.probes,
      |       coalesce(t.n_cand, 0) AS n_candidates, t.nn_id,
      |       round(t.cos, 6) AS cosine
      |FROM asg a JOIN ps USING (vec_id)
      |LEFT JOIN t ON t.vec_id = a.vec_id AND t.rk = 1
      |ORDER BY a.vec_id""".stripMargin

  // ------------------------- product quantization + asymmetric distance

  private val pqM = 8 // subspaces (64 dims / 8 per sub)
  private[operators] val pqK = 16 // codewords per subspace
  private val pqQueries = 5 // query vectors (vec_id < 5), as annCosineTopk

  /** Product quantization with asymmetric distance (ADC) — the memory
    * side of the ANN triad (LSH prunes candidates, IVF prunes cells, PQ
    * shrinks what a candidate COSTS): each vector is encoded as
    * [[pqM]] codeword ids, here 8 bytes instead of 64×4 raw floats — a
    * 32× compression that is what lets a 100 TB embedding corpus keep its
    * searchable form in cluster memory at all. A query never decodes:
    * it precomputes a distance table (its own subvector vs every codeword,
    * M×K = 128 doubles), and a candidate's approximate distance is M
    * table lookups — no float vector is touched at scan time.
    *
    * Like [[annIvfAssign]], the codebook is FROZEN data-sampled (subspace
    * codewords = the first [[pqK]] corpus vectors' subvectors), so encode,
    * distance table, and ranking are all deterministic corpus functions
    * and DuckDB re-derives the identical relation — full hash oracle, no
    * literals to drift. Production swaps in per-subspace Lloyd codebooks
    * fit offline; every plan shape below is unchanged by that swap.
    *
    * Plan shape: subvector explode is narrow (rows × M, slice() is
    * codegen'd); encode is one (vec_id, m)-keyed min-struct argmin over a
    * BROADCAST codeword relation (M×K rows); ADC reassembles per
    * (query, vec) via M conditional `max` aggregates — the
    * slot-pivot trick from textChunkDedup — then sums d0..d7 in fixed
    * index order, so the float accumulation order is pinned and
    * bit-identical across engines (a plain sum() agg would be
    * partition-order-dependent); top-k is one per-query window. The only
    * per-candidate state anywhere is the 8 code ids — the compression IS
    * the plan. */
  /** (vec_id, m, sv, sq): the per-subspace view of the corpus. */
  private[operators] def pqSub(s: SparkSession, dir: String): DataFrame =
    pqSubOf(Tables(s, dir, "embeddings"))

  /** [[pqSub]] over an arbitrary (vec_id, embedding) relation — the
    * batch/stream-shared subspace view ([[StreamingAnnIndexQueries]]
    * encodes arriving batches through the same definition). */
  private[operators] def pqSubOf(emb: DataFrame): DataFrame = {
    val dot = graft.functions.VectorOps.dot_product _
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), posexplode(array(
        (0 until pqM).map(m => slice(col("v"), m * 8 + 1, 8)): _*))
        .as(Seq("m", "sv")))
      .withColumn("sq", dot(col("sv"), col("sv")))
  }

  private[operators] def pqCw(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < pqK)
      .select(col("vec_id").as("c"), col("m"), col("sv").as("cv"),
        col("sq").as("csq"))

  /** Encode relation (vec_id, m, code): argmin_c |sv − cv|² per
    * (vec_id, m), algebraic expansion, tie → smallest codeword id via
    * the min-struct. Exposed to the spec so codebook self-consistency
    * (a codeword sample must encode to itself) is testable on the REAL
    * encode path, not a reimplementation. */
  private[operators] def pqEncode(sub: DataFrame, cw: DataFrame): DataFrame = {
    val dot = graft.functions.VectorOps.dot_product _
    sub.join(broadcast(cw), Seq("m"))
      .withColumn("dist",
        col("sq") - lit(2.0) * dot(col("sv"), col("cv")) + col("csq"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.c").as("code"))
  }

  private[operators] def pqCodes(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(s, dir)
    pqEncode(sub, pqCw(sub))
  }

  def annPqAdc(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(s, dir)
    pqSearch(s, dir, pqEncode(sub, pqCw(sub)))
  }

  /** The ADC search tail given an encode relation (vec_id, m, code) —
    * shared by [[annPqAdc]] (codes derived in-plan) and
    * [[annIndexSearch]] (codes read from a persisted index). Everything
    * this recomputes — the codebook (vec_id < [[pqK]]) and the query
    * subvectors (vec_id < [[pqQueries]]) — is a PRUNED scan with pushed
    * filters; the corpus-scale relation is only ever `enc`. */
  private[operators] def pqSearch(s: SparkSession, dir: String,
      enc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorOps.dot_product _
    val sub = pqSub(s, dir)
    val cw = pqCw(sub)
    // the query-side distance table: (query_id, m, c, d) — M×K rows per
    // query, broadcast
    // broadcast the codeword side explicitly: its lineage reaches back to
    // the corpus scan, so Catalyst's size estimate is corpus-sized and
    // would otherwise pick a sort-merge join on the M-value key — 8
    // distinct keys is degenerate skew at scale, for a 128-row relation
    val dt = sub.filter(col("vec_id") < pqQueries)
      .select(col("vec_id").as("query_id"), col("m"),
        col("sv").as("qv"), col("sq").as("qsq"))
      .join(broadcast(cw), Seq("m"))
      .withColumn("d",
        col("qsq") - lit(2.0) * dot(col("qv"), col("cv")) + col("csq"))
      .select(col("query_id"), col("m"), col("c"), col("d"))
    val slots = (0 until pqM).map(j =>
      max(when(col("m") === j, col("d"))).as(s"d$j"))
    val adc = enc.join(broadcast(dt),
        enc("m") === dt("m") && enc("code") === dt("c"))
      .select(dt("query_id"), enc("vec_id"), enc("m").as("m"), dt("d"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(slots.head, slots.tail: _*)
      .withColumn("adc",
        (0 until pqM).map(j => col(s"d$j")).reduce(_ + _))
      .filter(col("vec_id") =!= col("query_id"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("adc"), 6).as("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Build-once / search-many — the index LIFECYCLE the other ANN
    * queries elide: a 100 TB corpus is encoded ONCE (one pass; the
    * index artifact is 8 code bytes + ids per vector, a ~32× reduction
    * over the float corpus), persisted, and every subsequent search
    * reads ONLY the index plus two pruned scans (codebook rows,
    * query rows) — the embedding corpus itself is never rescanned at
    * query time. This query runs the whole cycle: encode → write the
    * codes parquet → search strictly from the store. The result is
    * value-identical to [[annPqAdc]] (same codebook, same codes, same
    * tables), so it shares that query's oracle — which also makes the
    * round-trip itself oracle-checked: a codec bug in the store write
    * or read would hash-mismatch.
    *
    * The store is pid-scoped tmp (the bucketed_join pattern); a real
    * deployment points it at the table format of record and re-encodes
    * only new partitions. */
  def annIndexSearch(s: SparkSession, dir: String): DataFrame = {
    val base = graft.streaming.StreamingQueries.scratchDir(
      "graft_pq_index", dir)
    val codesDir = s"$base/codes"
    pqCodes(s, dir).write.mode("overwrite").parquet(codesDir)
    pqSearch(s, dir, s.read.parquet(codesDir))
  }

  val annPqAdcSql: String = {
    val dSlots = (0 until pqM)
      .map(j => s"max(CASE WHEN e.m = $j THEN d END) AS d$j")
      .mkString(",\n      |    ")
    val dSum = (0 until pqM).map(j => s"d$j").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
       |mm AS (SELECT range AS m FROM range(0, $pqM)),
       |sub AS (SELECT vec_id, m, e[m*8+1 : m*8+8] AS sv
       |        FROM n CROSS JOIN mm),
       |sq AS (SELECT vec_id, m, sv,
       |         list_sum(list_transform(sv, x -> x * x)) AS sq FROM sub),
       |cw AS (SELECT vec_id AS c, m, sv AS cv, sq AS csq
       |       FROM sq WHERE vec_id < $pqK),
       |enc0 AS (SELECT s.vec_id, s.m, c.c,
       |    s.sq - 2.0 * list_sum(list_transform(list_zip(s.sv, c.cv),
       |      z -> z[1] * z[2])) + c.csq AS dist
       |  FROM sq s JOIN cw c USING (m)),
       |enc AS (SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, c) AS rk FROM enc0) WHERE rk = 1),
       |dt AS (SELECT q.vec_id AS query_id, c.m, c.c,
       |    q.sq - 2.0 * list_sum(list_transform(list_zip(q.sv, c.cv),
       |      z -> z[1] * z[2])) + c.csq AS d
       |  FROM sq q JOIN cw c USING (m) WHERE q.vec_id < $pqQueries),
       |slots AS (SELECT dt.query_id, e.vec_id,
       |    $dSlots
       |  FROM enc e JOIN dt ON dt.m = e.m AND dt.c = e.code
       |  GROUP BY 1, 2),
       |adc AS (SELECT query_id, vec_id, $dSum AS adc FROM slots
       |        WHERE vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, adc, row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |      FROM adc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank,
       |       vec_id AS neighbor_id, round(adc, 6) AS adc_dist
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // ------------------------------------- IVF-PQ: the production composite

  /** IVF-PQ — the index shape production vector search actually deploys
    * (FAISS's IVFx,PQy family): the IVF coarse quantizer bounds WHICH
    * vectors a query compares against (nprobe cells, never the corpus)
    * and PQ bounds WHAT a comparison costs (8 code bytes + table
    * lookups, never a float vector). PQ here encodes RESIDUALS
    * (v − centroid[cell]) — the standard refinement: residuals
    * concentrate near zero so a shared codebook quantizes them far
    * better than raw vectors — and the query builds a distance table
    * PER PROBED CELL against its own residual (q − centroid[cell]),
    * giving |q−x|² ≈ Σ_m |(q−c_x)_m − cw[code_m]|².
    *
    * Like its two parents ([[annIvfAssign]], [[annPqAdc]]) every
    * codebook is frozen data-sampled (cells = first 32 vectors,
    * residual codewords = first 16 vectors' residual subvectors), so
    * encode, probe, table, and ranking are deterministic corpus
    * functions and the whole composite hash-oracles in DuckDB. The
    * scale shape composes both parents': assignment/encode are
    * broadcast-join map-side passes; the search join is keyed on cell
    * id (dt carries only query × probed-cell × M × K rows, broadcast);
    * ADC reassembles via the slot-pivot with pinned float order; the
    * per-candidate state is 8 code bytes + a cell id. */
  def annIvfPq(s: SparkSession, dir: String,
      k: Int = defaultK, nprobe: Int = defaultNprobe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dot = graft.functions.VectorOps.dot_product _
    val v = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nsq", dot(col("v"), col("v")))
    val cents = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"), col("v").as("ce"),
        col("nsq").as("csq"))
    val ranked = v.crossJoin(broadcast(cents))
      .withColumn("dist",
        col("nsq") - lit(2.0) * dot(col("v"), col("ce")) + col("csq"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cell"))))
    // residual of every vector w.r.t. its OWN cell centroid
    val res = ranked.filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), col("ce"), (x, y) => x - y).as("rv"))
    val rsub = res
      .select(col("vec_id"), col("cell"), posexplode(array(
        (0 until pqM).map(m => slice(col("rv"), m * 8 + 1, 8)): _*))
        .as(Seq("m", "sv")))
      .withColumn("sq", dot(col("sv"), col("sv")))
    val rcw = rsub.filter(col("vec_id") < pqK)
      .select(col("vec_id").as("c"), col("m"), col("sv").as("cv"),
        col("sq").as("cwsq"))
    val enc = rsub.join(broadcast(rcw), Seq("m"))
      .withColumn("dist",
        col("sq") - lit(2.0) * dot(col("sv"), col("cv")) + col("cwsq"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist"), col("c"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.c").as("code"))
    // per-(query, probed cell) residual → distance table rows
    val qres = ranked.filter(col("vec_id") < pqQueries && col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"),
        zip_with(col("v"), col("ce"), (x, y) => x - y).as("qrv"))
    val dt = qres
      .select(col("query_id"), col("cell"), posexplode(array(
        (0 until pqM).map(m => slice(col("qrv"), m * 8 + 1, 8)): _*))
        .as(Seq("m", "qv")))
      .withColumn("qsq", dot(col("qv"), col("qv")))
      // explicit broadcast — same reason as annPqAdc's dt build: the
      // codeword lineage looks corpus-sized to the estimator
      .join(broadcast(rcw), Seq("m"))
      .withColumn("d",
        col("qsq") - lit(2.0) * dot(col("qv"), col("cv")) + col("cwsq"))
      .select(col("query_id"), col("cell"), col("m"), col("c"), col("d"))
    val slots = (0 until pqM).map(j =>
      max(when(col("m") === j, col("d"))).as(s"d$j"))
    val adc = enc
      .join(res.select(col("vec_id"), col("cell")), Seq("vec_id")).as("l")
      .join(broadcast(dt).as("dt"),
        col("dt.cell") === col("l.cell") && col("dt.m") === col("l.m") &&
          col("dt.c") === col("l.code"))
      .select(col("dt.query_id").as("query_id"), col("l.vec_id").as("vec_id"),
        col("l.cell").as("cell"), col("l.m").as("m"), col("dt.d").as("d"))
      .groupBy(col("query_id"), col("vec_id"), col("cell"))
      .agg(slots.head, slots.tail: _*)
      .withColumn("adc",
        (0 until pqM).map(j => col(s"d$j")).reduce(_ + _))
      .filter(col("vec_id") =!= col("query_id"))
    adc.withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc"), col("vec_id"))).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), round(col("adc"), 6).as("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annIvfPqSql: String = {
    val dSlots = (0 until pqM)
      .map(j => s"max(CASE WHEN e.m = $j THEN d END) AS d$j")
      .mkString(",\n      |    ")
    val dSum = (0 until pqM).map(j => s"d$j").mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
       |    list_sum(list_transform(embedding::DOUBLE[], x -> x * x)) AS nsq
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cell, e AS ce, nsq AS csq
       |         FROM n WHERE vec_id < $defaultK),
       |rkd AS (SELECT n.vec_id, c.cell, n.e, c.ce,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      n.nsq - 2.0 * list_sum(list_transform(list_zip(n.e, c.ce),
       |        z -> z[1] * z[2])) + c.csq, c.cell) AS rk
       |  FROM n CROSS JOIN cent c),
       |res AS (SELECT vec_id, cell,
       |    list_transform(list_zip(e, ce), z -> z[1] - z[2]) AS rv
       |  FROM rkd WHERE rk = 1),
       |mm AS (SELECT range AS m FROM range(0, $pqM)),
       |rsub AS (SELECT vec_id, cell, m, rv[m*8+1 : m*8+8] AS sv,
       |    list_sum(list_transform(rv[m*8+1 : m*8+8], x -> x * x)) AS sq
       |  FROM res CROSS JOIN mm),
       |rcw AS (SELECT vec_id AS c, m, sv AS cv, sq AS cwsq
       |        FROM rsub WHERE vec_id < $pqK),
       |enc0 AS (SELECT s.vec_id, s.m, c.c,
       |    s.sq - 2.0 * list_sum(list_transform(list_zip(s.sv, c.cv),
       |      z -> z[1] * z[2])) + c.cwsq AS dist
       |  FROM rsub s JOIN rcw c USING (m)),
       |enc AS (SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY dist, c) AS rk FROM enc0) WHERE rk = 1),
       |qres AS (SELECT vec_id AS query_id, cell,
       |    list_transform(list_zip(e, ce), z -> z[1] - z[2]) AS qrv
       |  FROM rkd WHERE vec_id < $pqQueries AND rk <= $defaultNprobe),
       |qsub AS (SELECT query_id, cell, m, qrv[m*8+1 : m*8+8] AS qv,
       |    list_sum(list_transform(qrv[m*8+1 : m*8+8], x -> x * x)) AS qsq
       |  FROM qres CROSS JOIN mm),
       |dt AS (SELECT q.query_id, q.cell, c.m, c.c,
       |    q.qsq - 2.0 * list_sum(list_transform(list_zip(q.qv, c.cv),
       |      z -> z[1] * z[2])) + c.cwsq AS d
       |  FROM qsub q JOIN rcw c USING (m)),
       |slots AS (SELECT dt.query_id, e.vec_id, a.cell,
       |    $dSlots
       |  FROM enc e JOIN res a USING (vec_id)
       |  JOIN dt ON dt.cell = a.cell AND dt.m = e.m AND dt.c = e.code
       |  GROUP BY 1, 2, 3),
       |adc AS (SELECT query_id, vec_id, cell, $dSum AS adc FROM slots
       |        WHERE vec_id <> query_id),
       |r AS (SELECT query_id, vec_id, cell, adc, row_number() OVER (
       |        PARTITION BY query_id ORDER BY adc, vec_id) AS rank
       |      FROM adc)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank,
       |       vec_id AS neighbor_id, cell, round(adc, 6) AS adc_dist
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // --------------------- deterministic exact-arithmetic k-means (Lloyd)

  /** The IVF coarse-quantizer FIT itself as a hash-oracled relation —
    * the round-12 verdict's last retireable no-oracle gap, closed with
    * the PCA ladder's recipe (EmbeddingQueries.pcaFit): make every stage
    * either exact integer arithmetic or a correctly-rounded scalar op on
    * identical inputs, so Spark and DuckDB (and any partitioning)
    * produce bit-identical centroids and assignments.
    *
    *   1. quantize: vq = round(x·10⁶) :: int64 (the house rule — float
    *      k-means is accumulation-order-dependent; integer k-means is
    *      not).
    *   2. init: the K lowest vec_ids' quantized vectors, cell = vec_id —
    *      re-derivable in SQL, no frozen literals needed.
    *   3. assign: argmin_j Σ_d (vq_d − c_jd)², ties to the lowest cell
    *      id. All int64 (|vq| ≤ ~5·10⁵ ⇒ per-dim square ≤ ~1.2·10¹²,
    *      ×64 dims ≪ 2⁶³).
    *   4. update: c'_jd = round(Σ vq / n) — the int64 sum and count are
    *      both < 2⁵³ so their double casts are EXACT, the IEEE division
    *      is correctly rounded, and round-half-away-from-zero agrees
    *      between Spark (BigDecimal HALF_UP) and DuckDB (std::round).
    *      Centroids stay on the integer grid every round.
    *   5. three Lloyd rounds, then a final assignment against the
    *      converged centroids. A cell that empties simply drops out —
    *      deterministically in both engines.
    *
    * Scale posture (same as the production `ann_ivf`): the fit runs on a
    * SAMPLE and the model ships as literals; here the fit IS the query.
    * Assignment is a broadcast join of the K×D centroid relation at dim
    * grain — the N·D·K intermediate is the algorithm's own FLOP count,
    * and map-side partial aggregation collapses it to N·K rows before
    * the (vec_id, cell) shuffle. Per-round `localCheckpoint` on the
    * 512-row centroid relation keeps the plan linear in rounds (the
    * BPE/PCA precedent). The ml-lib `ann_ivf` remains the production
    * path (k-means|| init beats first-K init on recall); this twin is
    * the driver-visible proof that the Lloyd iteration itself is
    * computed correctly. */
  private val exactK = 8
  private val exactRounds = 3

  private def exactAssign(q: DataFrame, c: DataFrame): DataFrame =
    q.join(broadcast(c), Seq("d"))
      .groupBy(col("vec_id"), col("cell"))
      .agg(sum((col("vq") - col("c")) * (col("vq") - col("c")))
        .as("dist2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist2"), col("cell"))).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"),
        col("m.dist2").as("dist2"))

  def annIvfExactFit(s: SparkSession, dir: String): DataFrame = {
    val q = Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("d", "x")))
      .select(col("vec_id"), col("d"),
        round(col("x") * 1e6).cast("long").as("vq"))
      .localCheckpoint() // consumed by every round + both assign sides
    var c = q.filter(col("vec_id") < exactK)
      .select(col("vec_id").as("cell"), col("d"), col("vq").as("c"))
    (1 to exactRounds).foreach { _ =>
      val a = exactAssign(q, c)
      c = q.join(a.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .groupBy(col("cell"), col("d"))
        .agg(round(sum(col("vq")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .localCheckpoint() // 512-row model; linear plan across rounds
    }
    exactAssign(q, c).orderBy(col("vec_id"))
  }

  /** Generated oracle: the same quantize→init→Lloyd ladder with the
    * rounds unrolled as materialized CTEs (the PCA oracle's pattern —
    * without MATERIALIZED DuckDB inlines each round into the next and
    * the expression tree grows geometrically). */
  val annIvfExactFitSql: String = {
    def assignCtes(r: Int, cPrev: String) =
      s"""d$r AS (
         |  SELECT q.vec_id, c.cell,
         |         CAST(sum((q.vq - c.c) * (q.vq - c.c)) AS BIGINT) AS dist2
         |  FROM q JOIN $cPrev c ON q.d = c.d
         |  GROUP BY q.vec_id, c.cell),
         |a$r AS MATERIALIZED (
         |  SELECT vec_id, cell, dist2 FROM (
         |    SELECT vec_id, cell, dist2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, cell) AS rn FROM d$r)
         |  WHERE rn = 1)""".stripMargin
    val rounds = (1 to exactRounds).map { r =>
      s"""${assignCtes(r, s"c${r - 1}")},
         |c$r AS MATERIALIZED (
         |  SELECT a$r.cell, q.d,
         |         CAST(round(CAST(sum(q.vq) AS DOUBLE) / count(*)) AS BIGINT)
         |           AS c
         |  FROM q JOIN a$r ON q.vec_id = a$r.vec_id
         |  GROUP BY a$r.cell, q.d)""".stripMargin
    }.mkString(",\n")
    val fin = exactRounds + 1
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT)
       |           AS d,
       |         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
       |           AS vq
       |  FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT vec_id AS cell, d, vq AS c FROM q WHERE vec_id < $exactK),
       |$rounds,
       |${assignCtes(fin, s"c$exactRounds")}
       |SELECT vec_id, cell, dist2 FROM a$fin ORDER BY vec_id""".stripMargin
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("ann_ivf", annIvf _, None),
      ("ann_ivf_exactfit", annIvfExactFit _, Some(annIvfExactFitSql)),
      ("ann_ivf_assign",
        (s: SparkSession, d: String) => annIvfAssign(s, d),
        Some(annIvfAssignSql)),
      ("ann_pq_adc", annPqAdc _, Some(annPqAdcSql)),
      ("ann_index_search", annIndexSearch _, Some(annPqAdcSql)),
      ("ann_ivfpq",
        (s: SparkSession, d: String) => annIvfPq(s, d),
        Some(annIvfPqSql)),
      ("emb_centroids", embCentroids _, Some(embCentroidsSql)))
}
