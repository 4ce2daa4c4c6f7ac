package graft.mwas

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions.rpm
import graft.functions.WelchTTest
import graft.stats.{PermResult, PermutationTest}

/** One finished (group × set) output row of a bioproject, as
  * [[Pipeline.contrastsUdf]] emits it: the 18 output columns but
  * `bioproject`, in output order (top-level: generated projections need
  * public accessor access). Runtime/memory instrumentation is 0 (Spark-side
  * metrics live in the event log, not in data rows). */
case class Contrast(group: String, metadata_field: String,
    metadata_value: String, status: String, runtime_seconds: Double,
    memory_usage_bytes: Long, num_true: Long, num_false: Long,
    mean_rpm_true: Double, mean_rpm_false: Double,
    sd_rpm_true: Double, sd_rpm_false: Double, fold_change: Option[Double],
    test_statistic: Option[Double], p_value: Option[Double],
    true_biosamples: String, false_biosamples: String)

/** The readout's dimension: each bioproject's set list, one row per
  * bioproject — see [[Pipeline.dims]]. */
case class PipelineDims(bpSets: DataFrame)

/** Pipeline configuration (reference globals, main/mwas_general.py:70-94). */
case class MwasConfig(
    groupNonzerosThreshold: Int = 3, // GROUP_NONZEROS_ACCEPTANCE_THRESHOLD :82
    pValueThreshold: Double = 0.005, // P_VALUE_THRESHOLD :85
    onlyTTest: Boolean = false, // ONLY_T_TEST :86
    alreadyNormalized: Boolean = false, // ALREADY_NORMALIZED :84
    permutationSideCutoff: Int = 4, // min-side size routing :407
    biosampleListCap: Int = 1000, // truncated listing :428-430
    permResamples: Int = 10000, // n_resamples :416
    // bioprojects whose catalog universe exceeds this route every contrast
    // to Welch (closed form, still exact) — the analog of the reference
    // skipping >50 MB projects (main/mwas_general.py:72), except nothing is
    // dropped here. It is the one bound on the kernel's arrays per task:
    // per group, the pooled, work and swap arrays hold at most nCat
    // entries each (the universe), so at most 20000 doubles (160 KB) apiece
    permMaxPooled: Int = 20000,
    // statistic-only mode for consumers that never read the permutation
    // p-value (the stats slice, the results summary): the permutation
    // route's TEST STATISTIC is the closed-form mean difference — only its
    // p-value needs resampling — so value collection and the kernel are
    // skipped wholesale. p_value is null (and status says so) on
    // permutation-routed rows.
    statClosedForm: Boolean = false)

/** The MWAS query engine: the reference's run_on_file + process_bioproject +
  * process_group call tree (main/mwas_general.py:344-679) collapsed into ONE
  * lazily-planned DataFrame pipeline — SURVEY.md §3.1.
  *
  * Scale design (SURVEY §7.4.4): the reference materializes a dense
  * biosample×group rpm matrix per bioproject (main/mwas_general.py:477).
  * Here the readout keeps the reference's bioproject grain but the
  * zero-fill stays VIRTUAL — a bioproject's observed (group, biosample)
  * rows and its sets meet in ONE row, and each side of a contrast gets its
  * statistics from its own observed members:
  *
  *     n_side     = |side| (from set cardinalities, not from rows)
  *     sum_side   = sum over observed members (implicit zeros add nothing)
  *     mean_side  = sum_side / n_side
  *     var_pop    = sumsq_side / n_side - mean_side²
  *
  * so the job shuffles O(catalog runs + observed rows + |sets|), never
  * O(biosamples × groups × sets), and its memory bound is one
  * bioproject's observed rows plus its sets per task. Bioprojects are
  * independent, so that bound — not the input size — is what a task
  * holds; a single bioproject too large for one task is the reference's
  * own >50 MB skip case (main/mwas_general.py:72). The per-bioproject
  * pass also keeps the plan small: its fixed per-job cost (planning,
  * stages, generated code and its JIT) is what dominates at interactive
  * sizes, so the pass emits finished output rows and the plan ends in
  * `inline`, with no generated assembly stage to compile per job.
  *
  * The state is the universe too: catalog runs absent from the input stay
  * in it as `group = null` rows, and the catalog is read once. The joined
  * rows cross ONE exchange, the width pin in [[biosampleState]], and the
  * state aggregation and the readout both run inside it.
  *
  * Permutation tests share one Monte-Carlo stream per (bioproject, group)
  * — every set of a group permutes the same zero-padded pool — and each
  * p-value is still a pure function of its own contrast's inputs, so
  * identical contrasts need no memo ([[contrastsUdf]]).
  *
  * Faithful-mode quirk kept on purpose: the reference feeds POPULATION sd
  * (np.nanstd, ddof=0; main/mwas_general.py:384-385) into scipy's
  * `ttest_ind_from_stats`, which expects sample sd. We reproduce exactly
  * that (SURVEY §7.4.3).
  */
object Pipeline {

  /** @param input   (run STRING, group STRING, quantifier DOUBLE) — the
    *                user CSV (main/mwas_general.py:744-759)
    * @param catalog (bio_project, bio_sample, run, spots) — the srarun
    *                catalog slice (main/mwas_general.py:37-54)
    * @param sets    MetadataCondenser.condense output
    * @return the reference's 18-column output relation
    *         (main/mwas_general.py:92-94), see [[Contrast]]
    */
  def run(input: DataFrame, catalog: DataFrame, sets: DataFrame,
      cfg: MwasConfig = MwasConfig()): DataFrame =
    runFromBiosampleState(biosampleState(input, catalog, cfg),
      catalog, sets, cfg)

  /** Stages 1–2a: normalize + reduce to the per-(bioproject, group,
    * biosample) SUFFICIENT STATISTICS (Σ rpm over runs, run count).
    * This relation is the pipeline's mergeable state: two disjoint input
    * slices' states merge by adding the sums and counts
    * ([[mergeBiosampleState]]), which is what lets an incremental
    * consumer (stream_mwas) maintain it across micro-batches and pay
    * only the READOUT per increment instead of a full recompute.
    * Everything downstream of this grain is derived per readout. */
  def biosampleState(input: DataFrame, catalog: DataFrame,
      cfg: MwasConfig = MwasConfig()): DataFrame = {
    // ---- stage 1: normalize (J1 outer join + implicit-zero fill, F1 rpm) --
    // outer join: catalog runs absent from input become quantifier=0 rows
    // with null group (they carry the biosample universe to the readout);
    // input runs absent from the catalog are dropped (no bioproject).
    val joined = catalog
      .join(input, Seq("run"), "left_outer")
      .na.fill(Map("quantifier" -> 0.0))
    val normalized = joined.withColumn("rpm",
      if (cfg.alreadyNormalized) col("quantifier")
      else rpm(col("quantifier"), col("spots")))
    // run-count and rpm-sum in ONE aggregation pass: the biosample mean
    // is rpm_sum / n_runs (identical accumulation to the former
    // avg(rpm) — Spark's Average is the same sum+count pair), and
    // n_provided is Σ n_runs (the reference counts PROVIDED run-level
    // rows — `group_subset['quantifier'].count()` after the outer-merge
    // fillna — NOT nonzero biosample means; r9 review finding).
    byBioproject(normalized)
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm")).as("rpm_sum"), count(lit(1)).as("n_runs"))
  }

  /** Merge two biosample-state slices built from DISJOINT input rows:
    * sums add, counts add. (bio_project, group, bio_sample) grain. */
  def mergeBiosampleState(a: DataFrame, b: DataFrame): DataFrame =
    byBioproject(a.unionByName(b))
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm_sum")).as("rpm_sum"),
        sum(col("n_runs")).as("n_runs"))

  /** WIDTH PIN (r16 audit): by bioproject at the session's shuffle width
    * when planned, so a caller's scoped width (a stream trigger's) holds.
    * The readout's kernel input is tiny next to its CPU cost, and AQE's
    * byte coalescing once made it a 15.9 s single-task straggler
    * (NOTES_r16); a user repartition is never coalesced, and
    * `EnsureRequirements` drops one over input already pinned alike. */
  private def byBioproject(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col("bio_project"))

  /** The readout's slowly-changing dimension, the per-bioproject set lists
    * (the universe rides on the state, so `catalog` is not read). An
    * incremental consumer builds it ONCE per stream (and persists it)
    * instead of re-deriving it every trigger. */
  def dims(catalog: DataFrame, sets: DataFrame): PipelineDims =
    PipelineDims(sets
      .groupBy(col("bioproject").as("bio_project"))
      .agg(collect_list(struct(col("attributes"), col("values"),
        col("members"), col("n_stored").cast("long").as("n_stored"),
        col("include"))).as("sets")))

  /** One incremental trigger step of the registry's `stream_mwas`.
    * Merges the batch's biosample-grain delta into `state`, then produces
    * the new full result: the readout recomputes over the merged state
    * every trigger. (A delta-driven readout, restricted to the changed
    * bioprojects, was measured on the join-based readout and retired
    * unused: NOTES_r14, NOTES_r15.)
    * Reference analogue: the block loop re-running every bioproject per
    * chunk (main/mwas_general.py:601-614).
    *
    * The first trigger's state holds the catalog's universe rows; a later
    * delta carries only its group rows (the filter makes the join inner).
    *
    * The returned state is an eager localCheckpoint: it is long-lived
    * across triggers, so the lineage must be cut (the BPE/PCA per-round
    * precedent) and the carried rows must not be re-derived from a
    * parquet dir that the next trigger overwrites.
    *
    * @return (new state, new full results) */
  def incrementalTrigger(batch: DataFrame, catalog: DataFrame,
      sets: DataFrame, cfg: MwasConfig, pdims: PipelineDims,
      state: Option[DataFrame]): (DataFrame, DataFrame) = {
    val delta = biosampleState(batch, catalog, cfg)
    val merged = state.fold(delta)(
      mergeBiosampleState(_, delta.filter(col("group").isNotNull)))
    // a checkpoint keeps the partitioning its plan reports, and an adaptive
    // plan reports none: from a static plan, the state keeps its pin, and
    // the next merge and the readout plan no exchange of it
    val (conf, aqe) = (merged.sparkSession.conf, "spark.sql.adaptive.enabled")
    val prev = conf.get(aqe)
    conf.set(aqe, "false")
    val next = try merged.localCheckpoint() finally conf.set(aqe, prev)
    (next, runFromBiosampleState(next, catalog, sets, cfg, Some(pdims)))
  }

  /** Stages 2b–5: the readout from the mergeable biosample state down to
    * the reference's 18-column output relation (`catalog` is not read: the
    * state carries the universe). `precomputed` lets an incremental caller
    * reuse persisted [[dims]] across triggers (`sets` is then unused). */
  def runFromBiosampleState(state: DataFrame, catalog: DataFrame,
      sets: DataFrame, cfg: MwasConfig = MwasConfig(),
      precomputed: Option[PipelineDims] = None): DataFrame = {
    val PipelineDims(bpSets) = precomputed.getOrElse(dims(catalog, sets))

    // ---- stages 2b–5: bioproject-local contrasts, tested and assembled ----
    // Every readout key carries bio_project and bioprojects are
    // statistically independent, so one row per bioproject — its observed
    // state rows, its sets, its catalog universe — holds everything a
    // contrast needs, and [[contrastsUdf]] derives, routes, tests and
    // assembles all of its (group × set) output rows in one pass (reference
    // process_bioproject, main/mwas_general.py:344-679). MEMORY BOUND: one
    // bioproject's observed (group, biosample) rows plus its sets sit in
    // one task — the grain the reference holds as a dense matrix (:477),
    // minus the implicit zeros, which stay virtual — plus, for the group
    // being tested, the permutation kernel's pool, work and swap arrays
    // (at most the catalog universe each, see MwasConfig.permMaxPooled).
    //
    // The observed rows (non-null groups) and the universe (every state
    // row's biosample) come from one aggregate; the pin is a no-op on a
    // state already pinned at this width. A bioproject the input never
    // touched has no observed rows and yields no contrasts.
    val obs = byBioproject(state)
      .groupBy(col("bio_project"))
      .agg(collect_list(when(col("group").isNotNull, struct(col("group"),
          col("bio_sample"), (col("rpm_sum") / col("n_runs")).as("rpm"),
          col("n_runs")))).as("obs"),
        sort_array(collect_set(col("bio_sample"))).as("all_biosamples"))
      .filter(size(col("obs")) > 0)
    obs
      .join(bpSets, Seq("bio_project"))
      // the reference's 18 columns (main/mwas_general.py:92-94)
      .select(col("bio_project").as("bioproject"),
        inline(contrastsUdf(cfg)(col("obs"), col("sets"),
          col("all_biosamples"))))
  }

  /** S7/S8 output sinks (reference main/mwas_general.py:631-679): the
    * per-bioproject CSV tree comes from partitionBy (replacing the string
    * accumulation + per-file writes), the combined file from a single
    * coalesced write — no manual append loop. */
  def writePerBioproject(output: DataFrame, dir: String): Unit =
    output.write.mode("overwrite").partitionBy("bioproject")
      .option("header", "true").csv(dir)

  def writeCombined(output: DataFrame, dir: String): Unit =
    output.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(dir)

  /** log2 fold change with the reference's 0/0 → 0, x/0 → +inf, 0/x → -inf
    * sentinels (main/mwas_general.py:325-336), otherwise Spark's `log2` of
    * the ratio: null where it is not positive. */
  private def foldChange(t: Double, f: Double): Option[Double] =
    if (t == 0 && f == 0) Some(0.0)
    else if (f == 0) Some(Double.PositiveInfinity)
    else if (t == 0) Some(Double.NegativeInfinity)
    else if (t / f <= 0) None
    else Some(StrictMath.log(t / f) / StrictMath.log(2.0))

  /** Every (group × set) output row of one bioproject, routed, tested and
    * assembled, from its observed state rows `obs` (group, bio_sample, rpm,
    * n_runs), its `sets` and its catalog universe `all` (sorted in UTF-8
    * byte order by `sort_array`). Per group: acceptance on the provided run
    * count (A4 :485-491); per contrast: side sizes by polarity (:363-372),
    * the size guard (:376), each side's sum and sum of squares over its own
    * observed members — so an all-zero side's mean is exactly 0.0, as in
    * the reference's dense `np.mean` (:384-385) — population sds, and the
    * both-zero-means skip (:388). Rows are sorted by biosample first, so
    * sums do not depend on the order collect_list happened to gather them
    * in.
    *
    * Routing (O14 :404-419) is decided here, once: Welch when forced, when
    * a side is smaller than `permutationSideCutoff`, or when the pooled
    * universe exceeds `permMaxPooled`; otherwise the permutation test over
    * virtually-zero-padded sides. Each side is its members' NONZERO rpms,
    * sorted ascending, then padded with implicit zeros up to its true
    * cardinality, reproducing the reference's dense per-bioproject vectors
    * (:477) without materializing them. Exact-enumeration contrasts are
    * tested one by one. A group's Monte-Carlo contrasts are tested
    * together, after its sets are walked, by one call of
    * [[graft.stats.PermutationTest.monteCarlo]] over the group's pool (its
    * nonzero rpms plus the universe's zeros, sorted once): each resample is
    * one shuffle as deep as the largest running side, and each contrast
    * reads its side sum at its own size. A contrast's result is
    * bit-identical to `PermutationTest.test` on its own padded sides, so
    * the reference's `reusable_results` dict (O10 :351,396-399) needs no
    * counterpart: identical inputs give identical results by
    * construction.
    *
    * Each row is finished as the reference writes it (:424-441): Welch
    * from [[graft.functions.WelchTTest.compute]], the fold change, the
    * "; significant" suffix (a null or NaN p is not significant), listings
    * — empty unless significant, capped, the stored side as listed and the
    * other side in universe order — and comma-free labels. */
  private[mwas] def contrastsUdf(cfg: MwasConfig) = {
    // early-stop bound: 20× the significance threshold — tests that are
    // decisively insignificant settle at the 1000-resample checkpoint;
    // anything near or under the threshold runs the full budget
    val earlyStopAbove = 20.0 * cfg.pValueThreshold
    val exactCutoff = 20000L
    val tooMany = "too many biosamples to list"
    // CSV-sanitized labels (F6 :441)
    def label(s: String) = if (s == null) null else s.replace(',', ' ')
    udf((obs: Seq[Row], sets: Seq[Row], all: Seq[String]) => {
      val nCat = all.length
      val bpTTest = cfg.onlyTTest || nCat > cfg.permMaxPooled
      val setRows = sets.map { r =>
        val members = r.getSeq[String](2)
        (r, members, new java.util.HashSet[String](members.asJava))
      }
      val out = ArrayBuffer.empty[Contrast]
      obs.groupBy(_.getString(0)).foreach { case (group, rows) =>
        val sorted = rows.sortBy(_.getString(1))
        val bs = sorted.map(_.getString(1)).toArray
        val rpm = sorted.map(_.getDouble(2)).toArray
        // each contrast's per-side nonzeros, copied out before the next
        val (inVals, outVals) =
          (new Array[Double](bs.length), new Array[Double](bs.length))
        // the group's Monte-Carlo contrasts — (row in `out`, true-side size,
        // statistic, its row given the result) — tested after the sets
        val mc = ArrayBuffer.empty[(Int, Int, Double, PermResult => Contrast)]
        if (sorted.map(_.getLong(3)).sum >= cfg.groupNonzerosThreshold) {
          setRows.foreach { case (set, members, memberSet) =>
            val include = set.getBoolean(4)
            val nStored = set.getLong(3)
            val numTrue = if (include) nStored else nCat - nStored
            val numFalse = nCat - numTrue
            if (numTrue >= 2 && numFalse >= 2) {
              val isTTest = bpTTest ||
                math.min(numTrue, numFalse) < cfg.permutationSideCutoff
              val split = !cfg.statClosedForm && !isTTest
              var (nIn, nOut) = (0, 0)
              var (sumIn, sqIn, sumOut, sqOut) = (0.0, 0.0, 0.0, 0.0)
              var i = 0
              while (i < bs.length) {
                val v = rpm(i)
                if (memberSet.contains(bs(i))) {
                  sumIn += v; sqIn += v * v
                  if (split && v != 0) { inVals(nIn) = v; nIn += 1 }
                } else {
                  sumOut += v; sqOut += v * v
                  if (split && v != 0) { outVals(nOut) = v; nOut += 1 }
                }
                i += 1
              }
              val (sumT, sqT, sumF, sqF) =
                if (include) (sumIn, sqIn, sumOut, sqOut)
                else (sumOut, sqOut, sumIn, sqIn)
              val meanT = sumT / numTrue
              val meanF = sumF / numFalse
              if (!(meanT == 0 && meanF == 0)) {
                def sd(sq: Double, n: Long, m: Double) =
                  math.sqrt(math.max(sq / n - m * m, 0.0))
                val (sdT, sdF) =
                  (sd(sqT, numTrue, meanT), sd(sqF, numFalse, meanF))
                def row(stat: Option[Double], p: Option[Double],
                    status: String): Contrast = {
                  val significant = p.exists(_ < cfg.pValueThreshold)
                  def listing(n: Long, stored: Boolean): String =
                    if (!significant) ""
                    else if (n >= cfg.biosampleListCap) tooMany
                    else if (stored) members.filter(_ != null).mkString("; ")
                    else all.filterNot(memberSet.contains).mkString("; ")
                  Contrast(group, label(set.getString(0)),
                    label(set.getString(1)),
                    if (significant) s"$status; significant" else status,
                    0.0, 0L, numTrue, numFalse, meanT, meanF, sdT, sdF,
                    foldChange(meanT, meanF), stat, p,
                    listing(numTrue, include), listing(numFalse, !include))
                }
                def permRow(r: PermResult) = row(Some(r.statistic),
                  Some(r.p_value), s"permutation_test (${r.method})")
                if (isTTest) {
                  val w = WelchTTest.compute(meanT, sdT, numTrue.toDouble,
                    meanF, sdF, numFalse.toDouble)
                  out += row(w.map(_._1), w.map(_._3), "t_test")
                } else if (cfg.statClosedForm) {
                  // the permutation route's statistic is the mean
                  // difference; only its p-value needs resampling
                  out += row(Some(meanT - meanF), None,
                    "permutation_test (stat_only)")
                } else {
                  // primitive sort, same Double.compare order: `sorted`
                  // boxes through Sorting.stableSort, the largest JIT
                  // compile of a warm job
                  val stored = java.util.Arrays.copyOf(inVals, nIn)
                  val other = java.util.Arrays.copyOf(outVals, nOut)
                  java.util.Arrays.sort(stored)
                  java.util.Arrays.sort(other)
                  val (x, y) = if (include) (stored, other) else (other, stored)
                  // a side's values plus its padding make the group's pool
                  // only when no side stores more values than its size
                  val pooled = x.length <= numTrue && y.length <= numFalse
                  val exact =
                    PermutationTest.choose(nCat, numTrue.toInt) <= exactCutoff
                  if (!pooled || exact) {
                    def padded(v: Array[Double], n: Long) =
                      java.util.Arrays.copyOf(v, math.max(n.toInt, v.length))
                    out += permRow(PermutationTest.test(padded(x, numTrue),
                      padded(y, numFalse), cfg.permResamples, exactCutoff,
                      earlyStopAbove))
                  } else {
                    mc += ((out.length, numTrue.toInt,
                      PermutationTest.meanDiff(x, numTrue, y, numFalse),
                      permRow))
                    out += null
                  }
                }
              }
            }
          }
        }
        if (mc.nonEmpty) {
          // the pool every Monte-Carlo contrast of the group permutes: its
          // nonzero rpms and the zeros up to the universe, sorted once
          val pool = new Array[Double](nCat)
          var z = 0
          rpm.foreach { v => if (v != 0) { pool(z) = v; z += 1 } }
          java.util.Arrays.sort(pool)
          val res = PermutationTest.monteCarlo(pool, mc.map(_._2).toArray,
            mc.map(_._3).toArray, cfg.permResamples, earlyStopAbove)
          mc.indices.foreach { c => out(mc(c)._1) = mc(c)._4(res(c)) }
        }
      }
      out.toSeq
    })
  }
}
