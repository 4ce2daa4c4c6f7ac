package graft.mwas

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.StatFunctions.{log2FoldChange, rpm}
import graft.functions.WelchTTest.welch_t
import graft.stats.PermutationTest

/** Permutation-kernel output row (top-level: generated projections need
  * public accessor access). */
case class PermOut(stat: Double, p: Double, method: String)

/** One (group × set) contrast of a bioproject, as [[Pipeline.contrastsUdf]]
  * derives it (top-level for the same reason as [[PermOut]]). */
case class Contrast(group: String, attributes: String, values: String,
    members: Seq[String], include: Boolean, num_true: Long, num_false: Long,
    mean_rpm_true: Double, mean_rpm_false: Double,
    sd_rpm_true: Double, sd_rpm_false: Double, perm_capped: Boolean,
    stored_vals: Array[Double], all_vals: Array[Double])

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
    permMaxPooled: Int = 20000, // guard: fall back to Welch beyond this
    // hard cap on OBSERVED NONZERO values per (bioproject, group) handed
    // to the permutation kernel; larger groups route to Welch (closed form,
    // still exact) instead of carrying an unbounded value array on every
    // contrast row — the analog of the reference skipping >50 MB projects
    // (main/mwas_general.py:72), except nothing is dropped here. 100k
    // doubles ≈ 800 KB per array.
    permCollectCap: Int = 100000,
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

    // ---- stages 2b–3: bioproject-local contrast statistics ---------------
    // Every readout key carries bio_project and bioprojects are
    // statistically independent, so one row per bioproject — its observed
    // state rows, its sets, its catalog universe — holds everything a
    // contrast needs, and [[contrastsUdf]] derives all of its
    // (group × set) contrasts in one pass (reference process_bioproject,
    // main/mwas_general.py:344-679). MEMORY BOUND: one bioproject's
    // observed (group, biosample) rows plus its sets sit in one task — the
    // grain the reference holds as a dense matrix (:477), minus the
    // implicit zeros, which stay virtual.
    val obs = state
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

    // ---- stage 4: test routing (O14 :404-419) + significance (:424-434) --
    // Welch when a side is tiny (or forced), else the permutation test —
    // run through the value-level memoization the reference keeps as a
    // driver-side dict (O10 :351,396-399): `distinct` the test inputs,
    // evaluate each distinct input ONCE, join results back. Deterministic
    // and parallel-safe where the reference's dict was neither.
    val isTTest = lit(cfg.onlyTTest) ||
      least(col("num_true"), col("num_false")) < lit(cfg.permutationSideCutoff) ||
      (col("num_true") + col("num_false")) > cfg.permMaxPooled ||
      col("perm_capped") // values were never collected for capped groups
    val routed = withStats
      .withColumn("w", welch_t(
        col("mean_rpm_true"), col("sd_rpm_true"), col("num_true").cast("double"),
        col("mean_rpm_false"), col("sd_rpm_false"), col("num_false").cast("double")))
      .withColumn("is_t_test", isTTest)

    val withTest =
      if (cfg.statClosedForm)
        // the permutation route's statistic is the mean difference — the
        // side means already carry it; only the p-value
        // would need the resampling kernel, and this mode's consumers
        // never read it
        routed
          .withColumn("test_statistic",
            when(col("is_t_test"), col("w.t"))
              .otherwise(col("mean_rpm_true") - col("mean_rpm_false")))
          .withColumn("p_value",
            when(col("is_t_test"), col("w.p")))
          .withColumn("status_base",
            when(col("is_t_test"), lit("t_test"))
              .otherwise(lit("permutation_test (stat_only)")))
      else {
        // the permutation p is a pure function of (stored multiset, group
        // multiset, polarity, side sizes) — hash of the sorted arrays is
        // the memo key. xxhash64 hashes ARRAY columns natively (recursive
        // element hash, codegen'd); the arrays were already sorted by
        // [[contrastsUdf]], so this is a straight pass over the doubles —
        // no JSON string ever built.
        val keyed = routed.withColumn("memo_key",
          when(col("is_t_test"), lit(null).cast("long")).otherwise(
            xxhash64(col("stored_vals"), col("all_vals"), col("include"),
              col("num_true"), col("num_false"))))
        // the hash leads the join key for cheap shuffle/equality, but the
        // REAL inputs ride along: a 64-bit collision is even odds around
        // 4e9 distinct tests (birthday bound) — at the 100 TB target that
        // is not ignorable, and a collision would silently hand one
        // contrast another's p (r9 review)
        val memoCols = Seq("memo_key", "stored_vals", "all_vals",
          "include", "num_true", "num_false")
        // early-stop bound: 20× the significance threshold — tests that are
        // decisively insignificant settle at the 1000-resample checkpoint;
        // anything near or under the threshold runs the full budget
        val permUdf = Pipeline.permPaddedUdf(cfg.permResamples,
          earlyStopAbove = 20.0 * cfg.pValueThreshold)
        // WIDTH PIN (r16 audit): the explicit repartition between the
        // memo dedup and the kernel projection is load-bearing. Without
        // it, AQE coalesces the dedup's post-shuffle partitions by
        // BYTES — and memo rows are tiny, so the CPU-heavy resampling
        // kernel (the one place bytes wildly understate cost) collapsed
        // to a 15.9 s single-task straggler at the 10× fixture while
        // the 30× point, with more bytes and therefore more coalesced
        // partitions, ran FASTER (the r15 audit's inverted-curvature
        // row). A user repartition is never coalesced, the shuffled
        // relation is the distinct memo tuples (small by construction),
        // and hash-on-key spreads the early-stop cost variance across
        // the full width. Measured 26.1 → 9.5 s at 10×; monotone
        // 1×/10×/30× walls after the pin (NOTES_r16).
        val permResults = keyed.filter(!col("is_t_test"))
          .select(memoCols.map(col): _*)
          .dropDuplicates(memoCols)
          .repartition(
            keyed.sparkSession.sparkContext.defaultParallelism)
          .select(col("memo_key") +: memoCols.drop(1).map(col) :+
            permUdf(col("stored_vals"), col("all_vals"), col("include"),
              col("num_true"), col("num_false")).as("perm"): _*)
        // plain equi-join back on the full memo tuple (AQE broadcasts
        // when small; at scale the distinct-inputs relation can be large,
        // so don't force it)
        keyed
          .join(permResults, memoCols, "left_outer")
          .withColumn("test_statistic",
            when(col("is_t_test"), col("w.t")).otherwise(col("perm.stat")))
          .withColumn("p_value",
            when(col("is_t_test"), col("w.p")).otherwise(col("perm.p")))
          .withColumn("status_base",
            when(col("is_t_test"), lit("t_test"))
              .otherwise(concat(lit("permutation_test ("),
                col("perm.method"), lit(")"))))
      }

    val tested = withTest
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

  /** Every (group × set) contrast of one bioproject, from its observed
    * state rows `obs` (group, bio_sample, rpm, n_runs), its `sets` and its
    * catalog size `nCat`. Per group: acceptance on the provided run count
    * (A4 :485-491) and the permutation value cap; per contrast: side sizes
    * by polarity (:363-372), the size guard (:376), each side's sum and
    * sum of squares over its own observed members — so an all-zero side's
    * mean is exactly 0.0, as in the reference's dense `np.mean`
    * (:384-385) — population sds, and the both-zero-means skip (:388).
    *
    * The permutation kernel's inputs are the sorted NONZERO rpms of the
    * stored side and of the whole group ([[permPaddedUdf]] pads with
    * implicit zeros, so observed zeros carry nothing). They are filled only
    * where the kernel can run: values wanted at all, the group's nonzeros
    * within `permCollectCap` and the pooled universe within
    * `permMaxPooled`; elsewhere they stay empty and routing sends the
    * contrast to Welch. Rows are sorted by biosample first, so sums do not
    * depend on the order collect_list happened to gather them in. */
  private[mwas] def contrastsUdf(cfg: MwasConfig) = {
    val threshold = cfg.groupNonzerosThreshold
    val cap = cfg.permCollectCap
    val needVals = !cfg.onlyTTest && !cfg.statClosedForm
    val maxPooled = cfg.permMaxPooled
    udf((obs: Seq[Row], sets: Seq[Row], nCat: Int) => {
      val bpVals = needVals && nCat <= maxPooled
      val setRows = sets.map { r =>
        val members = r.getSeq[String](2)
        (r, members, new java.util.HashSet[String](members.asJava))
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[Contrast]
      obs.groupBy(_.getString(0)).foreach { case (group, rows) =>
        val sorted = rows.sortBy(_.getString(1))
        val bs = sorted.map(_.getString(1)).toArray
        val rpm = sorted.map(_.getDouble(2)).toArray
        val nonzeros = rpm.count(_ != 0)
        val capped = nonzeros > cap
        val vals = bpVals && !capped
        if (sorted.map(_.getLong(3)).sum >= threshold) {
          // primitive sort, same Double.compare order: `sorted` boxes through
          // Sorting.stableSort, the largest JIT compile of a warm job
          val allVals = if (vals) rpm.filter(_ != 0) else Array.empty[Double]
          java.util.Arrays.sort(allVals)
          setRows.foreach { case (set, members, memberSet) =>
            val include = set.getBoolean(4)
            val nStored = set.getLong(3)
            val numTrue = if (include) nStored else nCat - nStored
            val numFalse = nCat - numTrue
            if (numTrue >= 2 && numFalse >= 2) {
              var (sumIn, sqIn, sumOut, sqOut) = (0.0, 0.0, 0.0, 0.0)
              var i = 0
              while (i < bs.length) {
                val v = rpm(i)
                if (memberSet.contains(bs(i))) { sumIn += v; sqIn += v * v }
                else { sumOut += v; sqOut += v * v }
                i += 1
              }
              val (sumT, sqT, sumF, sqF) =
                if (include) (sumIn, sqIn, sumOut, sqOut)
                else (sumOut, sqOut, sumIn, sqIn)
              val meanT = sumT / numTrue
              val meanF = sumF / numFalse
              if (!(meanT == 0 && meanF == 0)) {
                val storedVals =
                  if (!vals) Array.empty[Double]
                  else bs.indices.collect {
                    case j if rpm(j) != 0 && memberSet.contains(bs(j)) =>
                      rpm(j)
                  }.toArray
                java.util.Arrays.sort(storedVals)
                out += Contrast(group, set.getString(0), set.getString(1),
                  members, include, numTrue, numFalse, meanT, meanF,
                  math.sqrt(math.max(sqT / numTrue - meanT * meanT, 0.0)),
                  math.sqrt(math.max(sqF / numFalse - meanF * meanF, 0.0)),
                  capped, storedVals, allVals)
              }
            }
          }
        }
      }
      out.toSeq
    })
  }

  /** Permutation test over virtually-zero-padded sides.
    *
    * Inputs are the OBSERVED values only; each side is padded with implicit
    * zeros up to its true cardinality (nTrue/nFalse from set membership),
    * reproducing the reference's dense per-bioproject vectors
    * (main/mwas_general.py:477) without ever materializing them in the
    * plan. The non-stored side's observations are recovered by multiset
    * subtraction (array_except can't: it has set semantics and drops
    * duplicate rpm values). */
  private[mwas] def permPaddedUdf(resamples: Int,
      earlyStopAbove: Double = Double.PositiveInfinity) =
    udf((stored: Seq[Double], all: Seq[Double], include: Boolean,
        nTrue: Long, nFalse: Long) => {
      val cnt = scala.collection.mutable.HashMap.empty[Double, Int]
      stored.foreach(v => cnt.update(v, cnt.getOrElse(v, 0) + 1))
      val other = scala.collection.mutable.ArrayBuffer.empty[Double]
      all.foreach { v =>
        val c = cnt.getOrElse(v, 0)
        if (c > 0) cnt.update(v, c - 1) else other += v
      }
      val trueObs = if (include) stored else other.toSeq
      val falseObs = if (include) other.toSeq else stored
      val x = trueObs.toArray[Double] ++
        new Array[Double]((nTrue - trueObs.length).max(0).toInt)
      val y = falseObs.toArray[Double] ++
        new Array[Double]((nFalse - falseObs.length).max(0).toInt)
      val r = PermutationTest.test(x, y, resamples, exactCutoff = 20000,
        earlyStopAbove)
      PermOut(r.statistic, r.p_value, r.method)
    }).asNondeterministic() // deterministic in fact; flag stops Catalyst
      // from duplicating the (expensive) call during plan rewrites
}
