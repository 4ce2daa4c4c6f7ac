package graft.mwas

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions.{log2FoldChange, rpm}
import graft.functions.WelchTTest.welch_t
import graft.stats.{PermResult, PermutationTest}

/** One (group × set) contrast of a bioproject, as [[Pipeline.contrastsUdf]]
  * derives it, routed and tested (top-level: generated projections need
  * public accessor access). `perm` is empty on the Welch route and in
  * statistic-only mode. */
case class Contrast(group: String, attributes: String, values: String,
    members: Seq[String], include: Boolean, num_true: Long, num_false: Long,
    mean_rpm_true: Double, mean_rpm_false: Double,
    sd_rpm_true: Double, sd_rpm_false: Double, is_t_test: Boolean,
    perm: Option[PermResult])

/** Readout dimensions derived purely from (catalog, sets), both one row per
  * bioproject — see [[Pipeline.dims]]. */
case class PipelineDims(bpUniverse: DataFrame, bpSets: DataFrame)

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
    // skipped wholesale and the plan stays pure relational algebra.
    // p_value is null (and status says so) on permutation-routed rows.
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
  * so the readout shuffles O(observed rows + |sets|), never
  * O(biosamples × groups × sets), and its memory bound is one
  * bioproject's observed rows plus its sets per task. Bioprojects are
  * independent, so that bound — not the input size — is what a task
  * holds; a single bioproject too large for one task is the reference's
  * own >50 MB skip case (main/mwas_general.py:72). The per-bioproject
  * pass also keeps the plan small: its fixed per-job cost (planning,
  * stages, generated code) is what dominates at interactive sizes.
  *
  * Permutation tests share one Monte-Carlo stream per (bioproject, group):
  * every set of a group permutes the same pooled multiset — the group's
  * rpms over the catalog universe, zero-padded — and only the side size
  * differs, so one partial shuffle per resample serves all of the group's
  * Monte-Carlo contrasts ([[graft.stats.PermutationTest.monteCarlo]]).
  * Each p-value is still a pure function of its own contrast's inputs, so
  * identical contrasts get identical results without a memo.
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
    *         (main/mwas_general.py:92-94); runtime/memory instrumentation
    *         columns are 0 (Spark-side metrics live in the event log, not
    *         in data rows)
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
    // with null group (they densify the biosample universe); input runs
    // absent from the catalog are dropped (no bioproject to attribute to).
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
    normalized
      .filter(col("group").isNotNull)
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm")).as("rpm_sum"), count(lit(1)).as("n_runs"))
  }

  /** Merge two biosample-state slices built from DISJOINT input rows:
    * sums add, counts add. (bio_project, group, bio_sample) grain. */
  def mergeBiosampleState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("bio_project"), col("group"), col("bio_sample"))
      .agg(sum(col("rpm_sum")).as("rpm_sum"),
        sum(col("n_runs")).as("n_runs"))

  /** The readout's slowly-changing dimensions — pure functions of
    * (catalog, sets). An incremental consumer builds them ONCE per
    * stream (and persists them) instead of re-deriving the catalog
    * collect_set and the per-bioproject set lists every trigger. */
  def dims(catalog: DataFrame, sets: DataFrame): PipelineDims =
    PipelineDims(
      // biosample universe per bioproject (implicit zeros + listings).
      // Its size is taken at the consumer: a projection here would be a
      // generated-code stage whose AQE creation order races the state
      // aggregation's, and the stage ids that order hands out are part of
      // the generated source, so a warm job would miss the codegen cache
      bpUniverse = catalog
        .groupBy(col("bio_project"))
        .agg(sort_array(collect_set(col("bio_sample"))).as("all_biosamples")),
      // the bioproject's sets, one list per bioproject
      bpSets = sets
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
    val next = state.fold(delta)(mergeBiosampleState(_, delta))
      .localCheckpoint()
    (next, runFromBiosampleState(next, catalog, sets, cfg, Some(pdims)))
  }

  /** Stages 2b–5: the readout from the mergeable biosample state down to
    * the reference's 18-column output relation. `precomputed` lets an
    * incremental caller reuse persisted [[dims]] across triggers (the
    * `sets` argument is then unused). */
  def runFromBiosampleState(state: DataFrame, catalog: DataFrame,
      sets: DataFrame, cfg: MwasConfig = MwasConfig(),
      precomputed: Option[PipelineDims] = None): DataFrame = {
    val PipelineDims(bpUniverse, bpSets) =
      precomputed.getOrElse(dims(catalog, sets))

    // ---- stages 2b–4: bioproject-local contrasts, routed and tested -------
    // Every readout key carries bio_project and bioprojects are
    // statistically independent, so one row per bioproject — its observed
    // state rows, its sets, its catalog universe — holds everything a
    // contrast needs, and [[contrastsUdf]] derives, routes and tests all of
    // its (group × set) contrasts in one pass (reference process_bioproject,
    // main/mwas_general.py:344-679). MEMORY BOUND: one bioproject's
    // observed (group, biosample) rows plus its sets sit in one task — the
    // grain the reference holds as a dense matrix (:477), minus the
    // implicit zeros, which stay virtual — plus, for the group being
    // tested, the permutation kernel's pool, work and swap arrays (at most
    // the catalog universe each, see MwasConfig.permMaxPooled).
    //
    // WIDTH PIN (r16 audit): the explicit repartition by bioproject is
    // load-bearing. The resampling kernel runs in the stage that reads it,
    // and that stage's input is tiny next to its CPU cost; AQE coalesces
    // post-shuffle partitions by BYTES, and it once collapsed the kernel
    // to a 15.9 s single-task straggler at the 10× fixture while the 30×
    // point, with more bytes, ran faster (NOTES_r16). A user repartition is
    // never coalesced, and it adds no shuffle: the per-bioproject
    // aggregate's exchange is this one. Its width is the session's shuffle
    // width when the readout is planned, so a caller's scoped width (a
    // stream trigger's) holds here too.
    val obs = state
      .repartition(
        state.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("bio_project"))
      .select(col("bio_project"), struct(col("group"), col("bio_sample"),
        (col("rpm_sum") / col("n_runs")).as("rpm"), col("n_runs")).as("o"))
      .groupBy(col("bio_project"))
      .agg(collect_list(col("o")).as("obs"))
    val withStats = obs
      .join(bpSets, Seq("bio_project"))
      .join(bpUniverse, Seq("bio_project"))
      .select(col("bio_project"), col("all_biosamples"),
        inline(contrastsUdf(cfg)(col("obs"), col("sets"),
          size(col("all_biosamples")))))

    // the permutation route's statistic is the mean difference; in
    // statistic-only mode the side means carry it and the p-value is null
    val (permStat, permStatus) =
      if (cfg.statClosedForm)
        (col("mean_rpm_true") - col("mean_rpm_false"),
          lit("permutation_test (stat_only)"))
      else (col("perm.statistic"),
        concat(lit("permutation_test ("), col("perm.method"), lit(")")))
    val tested = withStats
      .withColumn("w", welch_t(
        col("mean_rpm_true"), col("sd_rpm_true"), col("num_true").cast("double"),
        col("mean_rpm_false"), col("sd_rpm_false"), col("num_false").cast("double")))
      .withColumn("test_statistic",
        when(col("is_t_test"), col("w.t")).otherwise(permStat))
      .withColumn("p_value",
        when(col("is_t_test"), col("w.p")).otherwise(col("perm.p_value")))
      .withColumn("status_base",
        when(col("is_t_test"), lit("t_test")).otherwise(permStatus))
      .withColumn("fold_change",
        log2FoldChange(col("mean_rpm_true"), col("mean_rpm_false")))

    // coalesce to false: a null p (stat-only permutation mode) must read
    // as NOT significant — the reference's `p < threshold` is False for
    // its nan/empty cases, giving no suffix and EMPTY listings
    // (mwas_general.py:426-434); Kleene null would skip the
    // `when(!significant, "")` arm below and leak populated listings
    val significant =
      coalesce(col("p_value") < cfg.pValueThreshold, lit(false))
    val trueMembers = when(col("include"), col("members"))
      .otherwise(array_except(col("all_biosamples"), col("members")))
    val falseMembers = when(col("include"),
      array_except(col("all_biosamples"), col("members")))
      .otherwise(col("members"))
    val tooMany = lit("too many biosamples to list")

    tested.select(
      col("bio_project").as("bioproject"),
      col("group"),
      // CSV-sanitized labels (F6 :441)
      regexp_replace(col("attributes"), ",", " ").as("metadata_field"),
      regexp_replace(col("values"), ",", " ").as("metadata_value"),
      when(significant, concat(col("status_base"), lit("; significant")))
        .otherwise(col("status_base")).as("status"),
      lit(0.0).as("runtime_seconds"),
      lit(0L).as("memory_usage_bytes"),
      col("num_true"), col("num_false"),
      col("mean_rpm_true"), col("mean_rpm_false"),
      col("sd_rpm_true"), col("sd_rpm_false"),
      col("fold_change"), col("test_statistic"), col("p_value"),
      when(!significant, lit(""))
        .when(col("num_true") < cfg.biosampleListCap,
          array_join(trueMembers, "; "))
        .otherwise(tooMany).as("true_biosamples"),
      when(!significant, lit(""))
        .when(col("num_false") < cfg.biosampleListCap,
          array_join(falseMembers, "; "))
        .otherwise(tooMany).as("false_biosamples"))
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

  /** Every (group × set) contrast of one bioproject, routed and tested,
    * from its observed state rows `obs` (group, bio_sample, rpm, n_runs),
    * its `sets` and its catalog size `nCat`. Per group: acceptance on the
    * provided run count (A4 :485-491); per contrast: side sizes by polarity
    * (:363-372), the size guard (:376), each side's sum and sum of squares
    * over its own observed members — so an all-zero side's mean is exactly
    * 0.0, as in the reference's dense `np.mean` (:384-385) — population
    * sds, and the both-zero-means skip (:388). Rows are sorted by biosample
    * first, so sums do not depend on the order collect_list happened to
    * gather them in.
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
    * construction. */
  private[mwas] def contrastsUdf(cfg: MwasConfig) = {
    // early-stop bound: 20× the significance threshold — tests that are
    // decisively insignificant settle at the 1000-resample checkpoint;
    // anything near or under the threshold runs the full budget
    val earlyStopAbove = 20.0 * cfg.pValueThreshold
    val exactCutoff = 20000L
    udf((obs: Seq[Row], sets: Seq[Row], nCat: Int) => {
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
        // statistic) — tested together once the sets are walked
        val mc = ArrayBuffer.empty[(Int, Int, Double)]
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
                val perm = if (!split) None else {
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
                    Some(PermutationTest.test(padded(x, numTrue),
                      padded(y, numFalse), cfg.permResamples, exactCutoff,
                      earlyStopAbove))
                  } else {
                    mc += ((out.length, numTrue.toInt,
                      PermutationTest.meanDiff(x, numTrue, y, numFalse)))
                    None
                  }
                }
                out += Contrast(group, set.getString(0), set.getString(1),
                  members, include, numTrue, numFalse, meanT, meanF,
                  math.sqrt(math.max(sqT / numTrue - meanT * meanT, 0.0)),
                  math.sqrt(math.max(sqF / numFalse - meanF * meanF, 0.0)),
                  isTTest, perm)
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
          mc.indices.foreach { c =>
            out(mc(c)._1) = out(mc(c)._1).copy(perm = Some(res(c)))
          }
        }
      }
      out.toSeq
    })
  }
}
