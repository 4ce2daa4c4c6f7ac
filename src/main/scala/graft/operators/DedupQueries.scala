package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Training-data-pipeline dedup + similarity operators over the `documents`
  * and `embeddings` tables (BASELINE.json scale100 extensions; SURVEY §7.1
  * step 9).
  *
  * Scale design notes (each operator is judged at 100 TB):
  *   - exact dedup: one hash-groupBy, map-side partial agg, no driver state.
  *   - jaccard pairs: blocked self-join (here: `source`) — the all-pairs
  *     comparison never leaves a block, so the shuffle is O(block²), not
  *     O(corpus²).
  *   - MinHash-LSH: signatures are computed per-row (narrow), candidates
  *     come from a shuffle on (band, band_hash) buckets — the standard
  *     sub-quadratic near-dup path; exact Jaccard verification only runs on
  *     bucket-mates.
  *   - SimHash: 60-bit signature per row; hamming-≤3 candidates via the
  *     pigeonhole 4-block trick (any pair within distance 3 shares one of 4
  *     15-bit blocks exactly) — again a bucket shuffle, never all-pairs.
  *   - embedding NN: brute-force is the correctness baseline; the LSH
  *     (random-hyperplane) variant is the scale path — bucket-local search.
  *
  * All math is chosen to be bit-reproducible in the DuckDB oracle: md5 (not
  * xxhash) where the oracle must re-derive signatures, double-cast vectors,
  * round(…,6) on cosines.
  */
object DedupQueries {

  // ---------------------------------------------------------------- helpers

  private[operators] def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Word 3-gram shingle set as sorted distinct xxhash64 values — one
    * compiled loop per row ([[graft.functions.NgramHashes]]) instead of
    * the interpreted transform/slice/concat_ws/array_distinct chain,
    * with the exact values the old `xxhash64(gram_string)` produced. */
  private val shingles: Column =
    graft.functions.ShingleOps.ngram_hashes(split(col("text"), " "), 3)

  /** embeddings with double-cast vector and L2 norm. */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x)))

  /** Per-pair dot product: the native codegen'd expression (zero per-call
    * allocation) — see [[graft.functions.DotProduct]] for the measured
    * HOF/UDF/native comparison. Bit-identical accumulation order across
    * all three forms and the DuckDB oracle. */
  private def dotNative(a: Column, b: Column): Column =
    graft.functions.VectorOps.dot_product(a, b)

  // ------------------------------------------------- D1: exact (hash) dedup

  /** Exact duplicate groups by content hash; keeps the smallest doc_id as
    * canonical (A1-style hash-groupBy; no near-dup semantics). */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  val dedupExactSql: String =
    """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin

  // ------------------------------------- D2: n-gram (unigram) Jaccard pairs

  /** Word-set Jaccard near-dup pairs within a `source` block. The block is
    * the scale lever: comparisons never cross blocks.
    *
    * Measured limit of the EXACT path (r11 stress, local[32], 8 GiB
    * driver): fine through 10× sf0.1 (37.3 s at 52.6k docs), DEAD at 30×
    * (158k docs, 31-word vocab) — heap OOM at 8 GiB, and with a 48 GiB
    * heap it spilled >79 GiB of (source, word) pair shuffle before
    * filling the disk. On df-dense corpora the within-block pair count
    * grows ~quadratically and no equi-join bound saves it. The measured
    * lever PAST that point is band-tightening: route candidate
    * generation through [[dedupMinhashLsh]]'s band buckets (exact
    * verification on bucket-mates only), which processed the SAME 30×
    * fixture in 6.83 s. Real hapax-rich corpora hit the cliff later
    * (rare words keep df small), but the escape hatch is the same —
    * this exact formulation is the ≤10×-scale / oracle path, the banded
    * one is the 100 TB path. */
  /* r17 (VERDICT r16 item 2): the DECLARED query rides the banded path
   * ([[bandedWordPairsJ]] — linear signature shuffle, exact verification
   * computing the same jaccard doubles), retiring the broadcast-the-
   * word-relation plan from the last value-bearing consumer; the exact
   * inclusion–exclusion arm ([[jaccardPairs]]) stays as the oracle
   * formulation, the property-spec brute force's subject, and the
   * batch-bounded engine of jaccardPairsTo.
   * Band-miss waiver recorded at the registration. */
  def dedupJaccardPairs(s: SparkSession, dir: String): DataFrame =
    bandedWordPairsJ(docs(s, dir)
      .select(col("doc_id"), col("source"), col("text")))
      .select(col("u").as("doc_a"), col("v").as("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Unordered pair relation — shared by the pair query above and the
    * connected-components clustering below. */
  private[operators] val jaccardThreshold = 0.7

  /** Shared inclusion–exclusion similarity join: explode words, count
    * shared words per pair via a (source, word) join,
    * J = |∩|/(|A|+|B|−|∩|). All codegen'd joins/aggregates — the
    * array_intersect/array_union version ran interpreted per pair and
    * cost ~14 s at sf0.1; pairs sharing zero words never materialize.
    *
    * Length prefilter: |∩| ≤ min(na,nb), so J ≥ t forces
    * min(na,nb) ≥ t·(na+nb−min) ⇔ min/max ≥ t. Attaching the counts via
    * BROADCAST joins (one small row per doc) lets the ratio test drop
    * impossible pairs BEFORE the pair-aggregation shuffle — map-side,
    * zero extra exchanges; the final J filter is unchanged, so the
    * result set is identical.
    *
    * `wRight` may be a restricted subset of `w` (the asymmetric
    * variant); `pred` fixes the pairing discipline (a<b for the
    * unordered relation, != for both orientations). Single-sourced so
    * the threshold/prefilter can never drift between consumers. */
  /* Plan shape, pinned BOTH ways after the r15 three-point audit.
   * Catalyst's estimate-driven choice has two failure modes here:
   * (a) a corpus whose parquet compresses under the 10 MB broadcast
   * threshold (the 10× fixture's documents land at 6.0 MB) broadcasts
   * the word side but leaves the probe side at INPUT-SPLIT parallelism
   * — the quadratic pair fan-out + partial aggregate ran as ONE 317 s
   * task on a single-file table (353 s vs 33 s for identical rows
   * split across 10 files); (b) forcing SortMergeJoin instead splits
   * each pair's shared words across word-hash partitions, so the
   * partial aggregate can no longer combine a pair locally — measured
   * 2.7 GB agg exchange + 23 GB spill at the same 10× fixture. The
   * winning shape pins BOTH decisions: the probe side repartitions by
   * doc_id at explicit width (every pair's fan-out lands whole in one
   * task → the partial aggregate emits final-sized counts, no giant
   * exchange, no spill), and the word side broadcasts explicitly.
   * This exact arm is the documented ≤30×/oracle path — the forced
   * broadcast is bounded by that posture; the 100 TB path is the
   * banded candidate relation (dedupMinhashLsh), where the probe side
   * of THIS join is a batch and the broadcast is ∝ batch by design. */
  private def jaccardJoin(w: DataFrame, wRight: DataFrame,
      pred: (Column, Column) => Column): DataFrame =
    sharedWordCounts(w, wRight, pred(col("doc_a"), col("doc_b")) &&
        least(col("na"), col("nb")).cast("double") >=
          lit(jaccardThreshold) * greatest(col("na"), col("nb")))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** (doc_a, doc_b, na, nb, inter): shared distinct-word counts per
    * (source, word)-joined pair of `w` × `wRight` rows that pass `keep`
    * (a filter over doc_a, doc_b, na, nb, applied before the pair
    * aggregation), with na/nb the docs' distinct-word counts over `w`.
    * The pinned shape of [[jaccardJoin]] (above) and
    * [[dedupContainment]]: doc-partitioned probe at explicit width,
    * broadcast count and word sides. */
  private def sharedWordCounts(w: DataFrame, wRight: DataFrame,
      keep: Column): DataFrame = {
    val nw = w.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val left = w.repartition(w.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("source"), col("doc_id").as("doc_a"), col("word"))
      .join(broadcast(nw.select(col("doc_id").as("doc_a"),
        col("nw").as("na"))), "doc_a")
    val right = wRight.select(col("source"), col("doc_id").as("doc_b"),
        col("word"))
      .join(broadcast(nw.select(col("doc_id").as("doc_b"),
        col("nw").as("nb"))), "doc_b")
    val shared = left.join(broadcast(right), Seq("source", "word"))
      .filter(keep)
      .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .agg(count(lit(1)).as("inter"))
    // Enforce the posture bound MECHANICALLY (ADVICE r15): the pinned
    // broadcast of the word relation is only valid inside the documented
    // ≤30×/oracle envelope — past it the failure mode is Spark's 8 GiB
    // broadcast hard limit, not a slow plan. When the optimizer's size
    // estimate for the broadcast side crosses half that limit, say so
    // loudly and name the escape hatch; the estimate is advisory (file
    // stats compress), so this warns rather than throws.
    val rightEst = right.queryExecution.optimizedPlan.stats.sizeInBytes
    if (rightEst > BigInt(4L << 30))
      System.err.println(s"[graft] sharedWordCounts: broadcast " +
        s"word-relation estimate $rightEst B exceeds 4 GiB — this exact " +
        "arm is the bounded oracle posture; at this scale route " +
        "candidates through the banded path (bandedWordEdges / " +
        "dedupMinhashLsh)")
    shared
  }

  /** [[bandedWordEdges]] over the corpus, in the pair relation's
    * (doc_a, doc_b) spelling — the edge source for consumers that use
    * the near-dup pair STRUCTURE but never the jaccard value (graph
    * analytics, splits, clustering). Probabilistically equal to
    * [[jaccardPairs]] under the recorded band-miss waiver. */
  private[operators] def bandedPairs(s: SparkSession, dir: String): DataFrame =
    bandedWordEdges(docs(s, dir)
      .select(col("doc_id"), col("source"), col("text")))
      .select(col("u").as("doc_a"), col("v").as("doc_b"))

  private def wordRel(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("source"), col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("word"))

  private[operators] def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val w = wordRel(s, dir)
    jaccardJoin(w, w, _ < _)
  }

  /** Asymmetric variant for consumers that only need pairs TOUCHING a
    * given id set (e.g. [[SplitQueries.negativeSampling]]'s exclusion,
    * where one side is always a pool member): the right stream is
    * semi-joined to `rightIds` BEFORE the (source, word) join, cutting
    * the similarity join's right input to the pool fraction. Same
    * prefilter, same J ≥ 0.7 — the result is exactly the subset of
    * [[jaccardPairs]] (normalized to unordered) touching `rightIds`,
    * with both orientations emitted (doc_x is unrestricted). */
  private[operators] def jaccardPairsTo(s: SparkSession, dir: String,
      rightIds: DataFrame): DataFrame = {
    val w = wordRel(s, dir)
    val wp = w.join(broadcast(rightIds.select(col("doc_id"))),
      Seq("doc_id"), "left_semi")
    jaccardJoin(w, wp, _ =!= _)
      .select(col("doc_a").as("doc_x"), col("doc_b").as("doc_p"))
  }

  /** Word relation from an explicit documents frame — the streaming
    * accumulate-and-probe consumers' grain
    * ([[StreamingComponentsQueries]]). Same explode as [[wordRel]]. */
  private[operators] def wordRelOf(d: DataFrame): DataFrame =
    d.select(col("source"), col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("word"))

  /** (doc_id, source, wh): per-doc sorted-distinct xxhash64 WORD sets
    * (1-gram [[graft.functions.NgramHashes]]) — the stored grain of the
    * banded streaming CC twin ([[StreamingComponentsQueries]]). Set
    * Jaccard over `wh` is collision-equivalent to the batch pair
    * relation's string-set Jaccard ([[jaccardJoin]]'s
    * inclusion–exclusion over (source, word) equality): hash equality ==
    * word equality modulo 64-bit collisions, the same identity the
    * shingle consumers already lean on. Every doc has ≥ 1 word (split of
    * "" yields [""]), so every doc carries a signature — unlike the
    * 3-gram shingle grain, which drops <3-word docs. */
  private[operators] def wordHashSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"),
      graft.functions.ShingleOps.ngram_hashes(
        split(col("text"), " "), 1).as("wh"))

  /** MinHash-banded J ≥ 0.7 EDGE relation at the word grain — the
    * 100 TB candidate path for the fused pipeline and the funnel
    * (VERDICT r15 item 3), the batch twin of the
    * [[StreamingComponentsQueries]] store probe and therefore the same
    * machinery already hash-proven against the exact SQL: word-hash
    * sets ([[wordHashSets]]), 32 MinHash(64) band hashes per doc via
    * the native per-row [[graft.functions.MinhashBands]] (narrow map,
    * zero shuffles to signature the corpus), then
    *
    *   1. CANDIDATES from a slim self-join: (doc_id, source, nw, band,
    *      bh) rows — 32 per doc, no word sets riding — shuffle-joined
    *      on the (source, band, bh) bucket key with the length-ratio
    *      prefilter applied in the join condition, then distinct. Both
    *      shuffle inputs are ∝ 32·N slim rows (LINEAR in the corpus, vs
    *      the exact arm's broadcast of the full word relation, which is
    *      bounded by the 8 GiB hard limit); the self-join's exchange is
    *      planned once and reused for the other side.
    *   2. EXACT verification ∝ candidates, not pairs: the word-hash
    *      sets join back onto the candidate relation only, and the
    *      native sorted-set Jaccard keeps true pairs exactly.
    *
    * Equality to the exact arm ([[edgesE2e]]) is probabilistic with
    * miss ≤ (1−J²)³² ≈ 4.4e-10 per qualifying pair (verification is
    * exact, so no false edge ever enters) — the stream_components /
    * stream_minhash_dedup waiver, recorded at each consumer's oracle
    * registration. Returned unordered (u < v), distinct. */
  private[operators] def bandedWordEdges(d: DataFrame): DataFrame =
    bandedWordPairsJ(d).select(col("u"), col("v"))

  /** The banded pair relation WITH the verified jaccard value, at the
    * word grain — the 100 TB arm for the value-bearing consumer too
    * (VERDICT r16 item 2): verification already computes the exact
    * sorted-set Jaccard on every candidate, so emitting it costs nothing,
    * and `sorted_jaccard` is the double division of the same integers
    * the exact arm divides. */
  private[operators] def bandedWordPairsJ(d: DataFrame): DataFrame =
    bandedPairsJ(wordHashSets(d))

  /** The one MinHash-LSH pair core of the text near-dup family, over any
    * (doc_id, source, wh) relation of sorted-distinct hash sets: word
    * sets ([[bandedWordPairsJ]]) or 3-gram shingle sets under a constant
    * source ([[minhashPairsOf]]). `source` is the block key; pairs never
    * cross it. Signatures ([[bandSignatures]]), the slim band self-join
    * with the length-ratio prefilter ([[bandCandidates]]), and exact
    * `sorted_jaccard` ≥ 0.7 verification; returns (u, v, jaccard),
    * u < v, distinct. A true J ≥ 0.7 pair misses all 32 bands with
    * probability ≤ (1−J²)³² ≈ 4.4e-10, and no false pair ever enters:
    * the band-miss waiver every consumer records at its registration.
    *
    * EXACT-DUP PRE-CONTRACTION, DATA-GATED (r17, VERDICT r16 item 3):
    * docs with IDENTICAL hash sets are certain J = 1.0 pairs and share
    * all 32 band hashes, so every (source, band, bh) bucket holds the
    * whole clique and the band self-join is quadratic in clique size —
    * the latent skew cliff on duplicate-heavy corpora (§2.5). The
    * contracted arm collapses each identical-set group to one
    * representative before banding and expands after verification; but
    * its (source, wh) set shuffle costs ~1.5 s per consumer on the
    * LOW-duplication bench fixture (dup mass 0.08), where it buys
    * nothing. So the arm choice is made FROM THE DATA, like
    * dedupContainmentAuto and at its same 0.25 threshold: one narrow
    * HLL prepass estimates the identical-set duplication mass, and only
    * a corpus where ≥ a quarter of the docs collapse pays the
    * contraction. The routing is PHYSICAL ONLY — both arms compute the
    * identical pair relation (spec-pinned on a dup-heavy corpus), so no
    * oracle surface changes; the estimator's HLL error
    * (`approx_count_distinct` at its default rsd of 0.05) can only move
    * the cutover point, never a result. */
  /* The gate's price: one extra job per call, a narrow HLL aggregate
   * over `hs` that also recomputes the caller's documents relation and
   * the per-doc hashing when the caller has not materialized it. Both
   * arms pay it; its cost is unmeasured. */
  private[operators] val contractionDupMassGate = 0.25

  private[operators] def bandedPairsJ(hs: DataFrame): DataFrame = {
    val st = hs.agg(count(lit(1)).as("n"),
      approx_count_distinct(xxhash64(col("source"), col("wh"))).as("nd"))
      .head()
    val n = st.getLong(0)
    val dupMass = if (n == 0L) 0.0 else 1.0 - st.getLong(1).toDouble / n
    if (dupMass >= contractionDupMassGate) bandedContractedPairsJ(hs)
    else bandedDirectPairsJ(hs)
  }

  /** (doc_id, source, wh, nw, bands): a hash-set relation's signature
    * rows — the set size and its 32 MinHash(64) band hashes (2 rows per
    * band) via the native per-row [[graft.functions.MinhashBands]]: a
    * narrow map, zero shuffles to signature a corpus or a batch. The
    * batch core and the streaming signature stores
    * ([[StreamingComponentsQueries]], [[StreamingDedupQueries]]) both
    * signature here, so the scheme is defined once. */
  private[operators] def bandSignatures(hs: DataFrame): DataFrame =
    hs.select(col("doc_id"), col("source"), col("wh"),
      size(col("wh")).as("nw"),
      graft.functions.ShingleOps.minhash_bands(col("wh"), 64, 32)
        .as("bands"))

  /** The direct (r16) banded shape: signature every doc, band self-join,
    * exact verify — the arm for low-duplication corpora. */
  private def bandedDirectPairsJ(whs: DataFrame): DataFrame = {
    val cand = bandCandidates(bandSignatures(whs))
    val wa = whs.select(col("doc_id").as("u"), col("wh").as("wa"))
    val wb = whs.select(col("doc_id").as("v"), col("wh").as("wb"))
    cand.join(wa, Seq("u")).join(wb, Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.ShingleOps.sorted_jaccard(col("wa"), col("wb"))
          .as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** The contracted arm: one row per DISTINCT hash set enters the band
    * self-join; within-group pairs emit deterministically at J = 1.0
    * (a band can no longer miss them) and every verified rep–rep pair
    * expands through both member lists (identical sets ⇒ the identical
    * jaccard). grp is MATERIALIZED once: its four consumers would
    * otherwise re-run the set shuffle's final aggregate each. */
  private def bandedContractedPairsJ(whs: DataFrame): DataFrame = {
    val grp = whs.groupBy(col("source"), col("wh"))
      .agg(min(col("doc_id")).as("rep"),
        sort_array(collect_list(col("doc_id"))).as("ids"),
        count(lit(1)).as("gsz"))
      .localCheckpoint(true)
    val cand = bandCandidates(bandSignatures(
      grp.select(col("rep").as("doc_id"), col("source"), col("wh"))))
    // verify AND expand from the same two group joins (wh and ids ride
    // together), so grp is read twice here, not four times
    val ga = grp.select(col("rep").as("u"), col("wh").as("wa"),
      col("ids").as("ia"))
    val gb = grp.select(col("rep").as("v"), col("wh").as("wb"),
      col("ids").as("ib"))
    val repPairs = cand.join(ga, Seq("u")).join(gb, Seq("v"))
      .select(col("u"), col("v"), col("ia"), col("ib"),
        graft.functions.ShingleOps.sorted_jaccard(col("wa"), col("wb"))
          .as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
    val cross = repPairs
      .select(explode(col("ia")).as("a"), col("ib"), col("jaccard"))
      .select(col("a"), explode(col("ib")).as("b"), col("jaccard"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"), col("jaccard"))
    val intra = grp.filter(col("gsz") > 1)
      .select(explode(col("ids")).as("u"), col("ids"))
      .select(col("u"), explode(col("ids")).as("v"))
      .filter(col("u") < col("v"))
      .select(col("u"), col("v"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** The slim band-bucket self-join over a (doc_id, source, nw, bands)
    * signature relation — shared by both arms. The bucket-key
    * repartition at explicit width is the same pin the r15 audit put on
    * jaccardJoin's probe side: without it, a corpus whose parquet
    * compresses under the broadcast threshold runs the bucket fan-out
    * at INPUT-SPLIT parallelism (one task on a single-file table). With
    * it, BOTH regimes are healthy: at small scale Catalyst broadcasts
    * one side onto the repartitioned probe (parallel fan-out), at large
    * scale the estimates cross the threshold and the join falls back to
    * a shuffle join whose exchanges this repartition already satisfies —
    * and because both join inputs are the SAME subtree, the exchange
    * plans once and is reused for the other side. */
  private def bandCandidates(sig: DataFrame): DataFrame = {
    val slim = sig.select(col("doc_id"), col("source"), col("nw"),
        posexplode(col("bands")).as(Seq("band", "bh")))
      .repartition(sig.sparkSession.sparkContext.defaultParallelism,
        col("source"), col("band"), col("bh"))
    slim.as("x").join(slim.as("y"),
        col("x.source") === col("y.source") &&
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.nw"), col("y.nw")).cast("double") >=
            lit(jaccardThreshold) * greatest(col("x.nw"), col("y.nw")))
      .select(col("x.doc_id").as("u"), col("y.doc_id").as("v"))
      .distinct()
  }

  val dedupJaccardPairsSql: String =
    """WITH w AS (SELECT doc_id, source,
      |  list_distinct(string_split(text, ' ')) AS w FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.w, b.w))) AS jaccard
      |FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |    / len(list_distinct(list_concat(a.w, b.w))) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------- D2b: containment pairs

  /** Asymmetric containment C(A,B) = |A∩B| / min(|A|,|B|) ≥ 0.95 — the
    * doc-inside-doc duplication Jaccard structurally misses: a paragraph
    * quoted whole inside a 10× longer page has J ≈ 0.1 but C = 1.0
    * (the reason suffix/containment passes exist next to near-dup passes
    * in web-corpus curation; cf. Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" §exact-substring).
    *
    * Same inclusion–exclusion shape as [[jaccardPairs]] (explode distinct
    * words, count shared per pair via the (source, word) join) but
    * WITHOUT the length-ratio prefilter — mismatched lengths are exactly
    * the pairs this operator exists for, so the only candidate bound is
    * the source block (the house blocking key). Measured cost of
    * dropping the prefilter (r11 stress, local[32]): 3.5 s at sf0.1 →
    * 50.3 s at 10× (≈14.5×, vs the prefiltered Jaccard's ≈8.9× on the
    * same fixture) — the full word-sharing pair space is the price of
    * catching asymmetric pairs. The measured scale lever is
    * [[dedupContainmentPrefix]] (exact PPJoin prefix filtering —
    * MinHash bands would be LOSSY here, see its scaladoc); this
    * formulation stays as the oracle-direct baseline and the r12
    * hash-identity gate's reference. Jaccard rides along per pair so the output
    * itself exhibits the asymmetry (high C, low J). Both ratios are
    * int/int divisions of identically-derived integers — bit-identical
    * cross-engine, no rounding needed. */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    val w = wordRel(s, dir)
    sharedWordCounts(w, w, col("doc_a") < col("doc_b"))
      .withColumn("containment", col("inter").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= 0.95)
      .select(col("doc_a"), col("doc_b"), col("containment"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupContainmentSql: String =
    """WITH w AS (SELECT doc_id, source,
      |  list_distinct(string_split(text, ' ')) AS w FROM documents)
      |SELECT doc_a, doc_b, containment, jaccard FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |      / least(len(a.w), len(b.w)) AS containment,
      |    CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.w, b.w))) AS jaccard
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id)
      |WHERE containment >= 0.95
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Prefix-filtered containment — the EXACT scale arm of
    * [[dedupContainment]] (same relation, same oracle SQL, no recall
    * loss), via PPJoin-style prefix filtering (Xiao et al., WWW'08):
    * for a qualifying pair with smaller-doc size m, at most
    * floor((1−t)·m) of the smaller doc's words miss the other doc, so
    * its floor((1−t)·m)+1 RAREST words (global (source, word) df
    * ascending, ties on word — both engines would derive the same
    * ordering) must intersect the other doc. Candidate generation joins
    * only those prefix words against the full word relation (at t=0.95
    * that is ~5% of each doc's words + 1), then exact |A∩B| is counted
    * for candidate pairs only.
    *
    * Why not MinHash bands: Jaccard-band buckets MISS exactly the
    * asymmetric pairs this operator exists for (a paragraph inside a
    * 10× page has J ≈ 0.1 — band collision probability ≈ 0), so the
    * "route through the LSH buckets" idea the r11 scaladoc floated is
    * lossy for containment; prefix filtering is the standard exact
    * lever. Its win scales with df skew: on hapax-rich corpora (real
    * text) the rare prefix words have tiny df and candidates collapse;
    * on the df-dense synthetic fixture (31-word vocab, every word a
    * stopword) no word-level filter discriminates — measured numbers in
    * NOTES_r12, both fixture shapes. */
  def dedupContainmentPrefix(s: SparkSession, dir: String): DataFrame =
    containmentPrefixOn(s, dir, None)

  /** The prefix-filtered containment engine, optionally restricted to a
    * survivor id set ([[dedupContainmentDedupFirst]] passes the
    * canonical survivors; `None` is the full-corpus public query). */
  private def containmentPrefixOn(s: SparkSession, dir: String,
      keepers: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = 0.95
    val w = keepers match {
      case None => wordRel(s, dir)
      case Some(k) => wordRel(s, dir).join(k, Seq("doc_id"), "left_semi")
    }
    val nw = w.groupBy(col("doc_id")).agg(count(lit(1)).as("nw"))
    val dfRel = w.groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("df"))
    // rank each doc's words rarest-first; keep the prefix whose size the
    // bound dictates (floor is safe: binary 0.05 rounds UP, so the
    // computed prefix is never shorter than the exact bound requires)
    val prefix = w.join(dfRel, Seq("source", "word"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("word"))))
      .join(broadcast(nw), Seq("doc_id"))
      .filter(col("rk") <= floor(lit(1.0 - t) * col("nw")) + lit(1))
      .select(col("source"), col("doc_id"), col("word"), col("nw"))
    // generation fires from the SMALLER side only (size ties broken by
    // id): the bound needs just the smaller doc's prefix to hit the
    // other doc — |A∩B| ≥ t·min(na,nb) with na = min means at most
    // ⌊(1−t)·na⌋ of A's words miss B. Generating from both directions
    // (the r12 shape) produced every candidate twice and made the
    // distinct fold symmetric duplicates; this halves the join output
    // at identical recall (spec'd bit-exact against the exact arm).
    val cand = prefix
      // explicit-width doc partitioning of the generating side — the
      // jaccardJoin pinned shape (r15 audit)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("source"), col("doc_id").as("doc_p"), col("word"),
        col("nw").as("np"))
      .join(broadcast(
          w.select(col("source"), col("doc_id").as("doc_o"), col("word"))
            .join(broadcast(nw.select(col("doc_id").as("doc_o"),
              col("nw").as("no"))), "doc_o")),
        Seq("source", "word"))
      .filter(col("no") > col("np") ||
        (col("no") === col("np") && col("doc_p") < col("doc_o")))
      .select(least(col("doc_p"), col("doc_o")).as("doc_a"),
        greatest(col("doc_p"), col("doc_o")).as("doc_b"))
      .distinct()
    // exact verification per candidate pair against the COMPACT word
    // arrays (two narrow doc-id joins + one codegen'd array_intersect
    // per pair) — re-expanding candidates through the word relation
    // costs |cand|·|doc| join rows and was measured to eat the entire
    // candidate-generation win on the hapax fixture (NOTES_r12)
    val docsArr = docs(s, dir).select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("ws"))
    cand
      .join(docsArr.select(col("doc_id").as("doc_a"), col("ws").as("wa")),
        "doc_a")
      .join(docsArr.select(col("doc_id").as("doc_b"), col("ws").as("wb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayOps.intersect_size(col("wa"), col("wb"))
          .cast("long").as("inter"),
        size(col("wa")).cast("long").as("na"),
        size(col("wb")).cast("long").as("nb"))
      .withColumn("containment", col("inter").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= t)
      .select(col("doc_a"), col("doc_b"), col("containment"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The recorded production posture for df-dense corpora (NOTES_r12:
    * a 31-word-vocab corpus defeats ANY word-level filter — prefix
    * candidates ≈ all pairs because every word is a stopword), now an
    * OPERATOR instead of a note: near-dup dedup first
    * ([[dedupCanonical]]'s keep set — MinHash-banded clusters, best
    * survivor per component), then prefix containment among survivors
    * only. On boilerplate-heavy corpora the near-dup contraction
    * collapses exactly the mass that made containment quadratic; the
    * output is containment among CANONICAL docs — the relation a
    * curation pipeline actually consumes (you don't report containment
    * between two docs the dedup stage already merged). Oracle: the
    * dedup_canonical recursive-CTE ladder composed with the naive
    * containment spelling over its survivors. */
  def dedupContainmentDedupFirst(s: SparkSession, dir: String)
      : DataFrame = {
    val keepers = dedupCanonical(s, dir).filter(col("keep"))
      .select(col("doc_id"))
    containmentPrefixOn(s, dir, Some(keepers))
  }

  /** Data-dependent containment POSTURE SELECTOR (VERDICT r13 item 3):
    * both arms are oracled; which one is cheaper depends on the corpus —
    * dedup-first pays only when the near-dup contraction collapses real
    * mass (r13 measured it as pure overhead on the 98.7%-survivor
    * fixture). The choice was a human pipeline decision; this operator
    * makes it from the data.
    *
    * Pre-pass estimator: a deterministic 1-in-4 hash sample of the
    * corpus (house portable hash — no RNG, cross-engine), the
    * MinHash-LSH pair machinery over the SAMPLE only (sub-quadratic,
    * ~1/16 of the full pair work), exact-Jaccard-verified at 0.7 — the
    * same recall-certain relation `dedup_minhash_lsh`'s oracle accepts.
    * The statistic is the fraction of sampled docs participating in a
    * near-dup pair; a sampled doc sees its partner with probability 1/4,
    * so the within-sample rate under-counts by the sample fraction and
    * is corrected ×4 (documented estimator, spec-pinned). Routing:
    * corrected rate ≥ 0.25 → a quarter of the corpus collapses →
    * dedup-first; below → prefix-only. The choice is LOGGED as a
    * constant `posture` column, so it is part of the hash-compared
    * result — the oracle replays the same sample, the same exact pair
    * relation, and the same threshold in SQL and must route identically.
    *
    * Scale shape: the pre-pass is two scalar actions over a sampled
    * sub-quadratic plan (the CC convergence-check precedent); the chosen
    * arm is unchanged. Wall ≈ better arm + pre-pass on both corpus
    * classes (measured in NOTES_r14). */
  def dedupContainmentAuto(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val sample = d.filter(
      graft.functions.PortableHash.bucket(col("doc_id"), 4) === 0)
    val inPair = minhashPairsOf(sample)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .distinct().count()
    val nSample = sample.count()
    val rate = 4.0 * inPair / math.max(nSample, 1L).toDouble
    val dedupFirst = rate >= 0.25
    val posture = if (dedupFirst) "dedup_first" else "prefix_only"
    println(f"[containment_auto] sampled=$nSample in_pair=$inPair " +
      f"corrected_rate=$rate%.3f -> $posture")
    val arm =
      if (dedupFirst) dedupContainmentDedupFirst(s, dir)
      else containmentPrefixOn(s, dir, None)
    // the redundant re-sort collapses (EliminateSorts); posture rides in
    // the compared schema so a mis-route is a hash mismatch, not a log line
    arm.withColumn("posture", lit(posture))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // lazy: composes dedupContainmentDedupFirstSql, a val defined LATER in
  // this object — a strict val here would capture null at object init
  // (the registry at the bottom forces it after every strict val is set)
  lazy val dedupContainmentAutoSql: String = {
    val prefixArm = dedupContainmentSql
      .replace("ORDER BY doc_a, doc_b", "")
    val dedupArm = dedupContainmentDedupFirstSql
      .replace("ORDER BY doc_a, doc_b", "")
    s"""WITH rate AS (
       |  WITH sh AS (
       |    SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |          WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |            1, 15)) AS BIGINT) % 4 = 0)
       |    WHERE len(w) >= 3),
       |  p AS (
       |    SELECT a.doc_id AS da, b.doc_id AS db
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.7),
       |  ids AS (SELECT da AS id FROM p UNION SELECT db FROM p),
       |  n AS (SELECT count(*) AS ns FROM documents
       |        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |          1, 15)) AS BIGINT) % 4 = 0)
       |  SELECT 4.0 * (SELECT count(*) FROM ids)
       |           / greatest((SELECT ns FROM n), 1) AS r)
       |SELECT doc_a, doc_b, containment, jaccard,
       |       'dedup_first' AS posture
       |FROM ($dedupArm) WHERE (SELECT r FROM rate) >= 0.25
       |UNION ALL
       |SELECT doc_a, doc_b, containment, jaccard,
       |       'prefix_only' AS posture
       |FROM ($prefixArm) WHERE (SELECT r FROM rate) < 0.25
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------------------------------------------------- D3: MinHash + LSH

  /** Near-dup pairs by exact 3-gram-shingle Jaccard ≥ 0.7 across the
    * whole corpus (no source block), via the family's MinHash-LSH core
    * ([[bandedPairsJ]]): MinHash(64) → 32 bands × 2 rows → bucket-join
    * candidates → exact verification. Miss probability for a true pair
    * at J = 0.7 is ≈ (1−0.7²)³² ≈ 6e-10, so the oracle (exhaustive
    * shared-shingle join) agrees. Sub-quadratic: the shuffles are the
    * band buckets and the verification joins, plus the contraction
    * gate's narrow HLL prepass. */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** (doc_id, source, wh) — per-doc distinct xxhash64 3-gram shingle
    * sets under one constant block key, since MinHash pairs cross
    * sources; docs with fewer than 3 words carry no shingles and are
    * excluded (they can never be near-dups). The `wh` values are the
    * ones the old `xxhash64(gram_string)` produced. Shared by the batch
    * pair relation and the incremental streaming dedup
    * ([[StreamingDedupQueries]]), which signatures ONE BATCH at a time
    * through this same function. */
  private[operators] def shingleSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), lit("").as("source"), shingles.as("wh"))
      .filter(size(col("wh")) > 0)

  /** The unordered MinHash-LSH verified pair relation — shared by
    * [[dedupMinhashLsh]] (the pair query) and [[dedupCanonical]] (which
    * contracts it to clusters). */
  private[operators] def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(docs(s, dir))

  /** [[minhashPairs]] over an arbitrary document relation — the
    * containment posture selector runs it over a hash SAMPLE of the
    * corpus ([[dedupContainmentAuto]]). */
  private[operators] def minhashPairsOf(d: DataFrame): DataFrame =
    bandedPairsJ(shingleSets(d))
      .select(col("u").as("doc_a"), col("v").as("doc_b"), col("jaccard"))

  val dedupMinhashLshSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) a
      |  JOIN (SELECT doc_id, unnest(s) AS g FROM sh) b
      |    ON a.g = b.g AND a.doc_id < b.doc_id)
      |SELECT p.doc_a, p.doc_b,
      |  CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(x.s, y.s))) AS jaccard
      |FROM pairs p JOIN sh x ON p.doc_a = x.doc_id
      |             JOIN sh y ON p.doc_b = y.doc_id
      |WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |    / len(list_distinct(list_concat(x.s, y.s))) >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ D4: SimHash

  /** 60-bit SimHash from md5-derived word hashes (md5 so the oracle can
    * re-derive bit-identically); `n_near` counts docs within hamming ≤ 3,
    * found via the exact pigeonhole 4×15-bit block join (not probabilistic —
    * distance ≤3 over 4 blocks forces one identical block).
    *
    * Measured slope (r11 stress, local[32]): 4.1 s at sf0.1 → 19.3 s at
    * 10× → 109.8 s at 30× — exponent ≈1.6 past 10×, block-bucket
    * collision pair work. The lever is bits-per-block ≈ log2(N) (a WIDER
    * fingerprint; more same-width blocks only add collision chances):
    * a blockBits-parameterized measurement arm (4 blocks, each hashing
    * its own md5 hex span; retired once recorded) measured 16-bit blocks
    * at 75.7 s and 20-bit at 65.2 s on the same 30× fixture (−40% vs
    * shipped 15-bit). The residual is true near-identical fingerprint
    * cliques (the fixture's 31-word vocab makes them common, as does
    * boilerplate in real corpora) whose m² pair output no bucketing
    * shrinks — the next lever past blockBits is collapsing
    * identical-fingerprint groups algebraically before pairing. */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    // explode distinct words → one codegen'd sign-sum aggregate per bit
    // (the nested-lambda formulation of the same math ran interpreted and
    // cost ~40 s at sf0.1; this shape is seconds). The signature is
    // bit-identical: same md5-derived 60-bit word hash, same ±1 sums.
    // WIDTH PIN on the aggregate key (r16, the pcaFit precedent): the
    // explode + 60 sign-sums per word descend from the documents scan
    // through narrow ops, so a single-file fixture ran the whole
    // signature compute as one serial ~1.5 s task; doc_id-hash width
    // parallelizes it AND co-partitions the groupBy(doc_id) — the
    // aggregate needs no further exchange.
    val words = docs(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .withColumn("h", conv(substring(md5(col("w")), 1, 15), 16, 10)
        .cast("long"))
    val signAggs = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) =!= 0, 1L)
        .otherwise(-1L)).as(s"s$j")
    }
    val bitsums = words.groupBy(col("doc_id"))
      .agg(signAggs.head, signAggs.tail: _*)
    val simhashExpr = (0 until 60).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    // materialized once (r16): TWO consumers — the blocked self-join
    // subtree and the final readout join — otherwise the explode + 60
    // sign-sum aggregate re-runs per consumer
    val sim = bitsums.select(col("doc_id"), simhashExpr.as("simhash"))
      .localCheckpoint(true)

    val blocked = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(j => struct(lit(j).as("blk"),
        shiftright(col("simhash"), j * 15).bitwiseAND(0x7fffL)
          .as("bv"))): _*)).as("e"))
      .select(col("doc_id"), col("simhash"), col("e.blk"), col("e.bv"))
    val near = blocked.as("x").join(blocked.as("y"),
        col("x.blk") === col("y.blk") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
    val cnt = near.select(col("doc_a").as("doc_id"))
      .union(near.select(col("doc_b")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_near"))
    sim.join(cnt, Seq("doc_id"), "left_outer")
      .na.fill(Map("n_near" -> 0L))
      .select(col("doc_id"), col("simhash"), col("n_near"))
      .orderBy(col("doc_id"))
  }

  val dedupSimhashSql: String =
    """WITH hs AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
      |    w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS hs
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), j ->
      |    CASE WHEN list_sum(list_transform(hs,
      |           h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
      |  FROM hs),
      |near AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db FROM s a JOIN s b
      |  ON a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 3),
      |cnt AS (
      |  SELECT d AS doc_id, CAST(count(*) AS BIGINT) AS n_near
      |  FROM (SELECT da AS d FROM near UNION ALL SELECT db FROM near)
      |  GROUP BY 1)
      |SELECT s.doc_id, s.simhash, coalesce(c.n_near, 0) AS n_near
      |FROM s LEFT JOIN cnt c ON s.doc_id = c.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // ------------------------------------- D5: embedding-cosine near-dup / NN

  /** Global nearest neighbor per vector by cosine — brute force as a
    * CHUNKED broadcast matrix sweep. The reference side is split into K
    * bounded blocks; each block is broadcast (Spark-managed, executor-side)
    * and nested-loop joined against the full table, with the per-block
    * argmax collapsing map-side (partial max of a (cos, -nn_id) struct
    * before any shuffle), and a final max across blocks. No `.collect()`:
    * an earlier formulation materialized the whole embeddings table on the
    * driver, which caps at driver memory — here each broadcast is one
    * block, so K is the scale lever (at 100 TB, K grows with the corpus
    * while block size stays executor-friendly; the running argmax keeps
    * the shuffle at one narrow row per (vec_id, block)). */
  /** Exact global NN relation (vec_id, nn_id, cos) via the chunked
    * broadcast sweep — shared by [[dedupEmbeddingNn]] and the ANN recall
    * gates (AnnRecall). */
  private[operators] def exactNn(s: SparkSession, dir: String): DataFrame = {
    val nBlocks = 4
    // explicit-width repartition of the STREAMED side: a single-file
    // embeddings table is one input split, and the whole N×block
    // nested-loop sweep would run as one task (r15 audit: 357 s
    // single-task stage at the 10× fixture; the r14 bitext lesson)
    val v = vecs(s, dir).select(col("vec_id"), col("v"), col("nrm"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    // argmax by cos, ties to the SMALLEST neighbor id (the oracle's
    // ORDER BY cos DESC, nn_id) — through the HASH-aggregable
    // ArgMaxTiebreak: the old max(struct(cos, -id)) spelling fell back
    // to SortAggregate (struct buffer), which sorted the whole N×block
    // fan-out per task (r15 audit: 43 GB spill at the 10× fixture)
    val argmax = graft.functions.ArgMax.arg_max_tiebreak _
    val partials = (0 until nBlocks).map { k =>
      val block = v
        .filter(pmod(col("vec_id"), lit(nBlocks)) === k)
        .select(col("vec_id").as("nn_id"), col("v").as("vb"),
          col("nrm").as("nrmb"))
      v.join(broadcast(block), col("vec_id") =!= col("nn_id"))
        .groupBy(col("vec_id"))
        .agg(argmax(
          dotNative(col("v"), col("vb")) / (col("nrm") * col("nrmb")),
          col("nn_id")).as("c"))
    }
    partials.reduce(_ union _)
      .groupBy(col("vec_id"))
      .agg(argmax(col("c.ord"), col("c.id")).as("c"))
      .select(col("vec_id"), col("c.id").as("nn_id"),
        col("c.ord").as("cos"))
  }

  def dedupEmbeddingNn(s: SparkSession, dir: String): DataFrame =
    exactNn(s, dir)
      .select(col("vec_id"), col("nn_id"),
        round(col("cos"), 6).as("cosine"),
        (col("cos") >= 0.45).as("is_near_dup"))
      .orderBy(col("vec_id"))

  val dedupEmbeddingNnSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |           x -> x * x))) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT a.vec_id, b.vec_id AS nn_id,
      |    list_sum(list_transform(list_zip(a.e, b.e), s -> s[1] * s[2]))
      |      / (a.nrm * b.nrm) AS cos
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT vec_id, nn_id, cos, row_number() OVER
      |        (PARTITION BY vec_id ORDER BY cos DESC, nn_id) AS rn FROM p)
      |SELECT vec_id, nn_id, round(cos, 6) AS cosine,
      |       cos >= 0.45 AS is_near_dup
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // -------------------------------------------- A1: brute-force cosine topk

  /** Exact top-k cosine neighbors for the first 5 query vectors. At scale
    * the query side is broadcast; the corpus scan stays partition-local
    * until the per-query top-k shuffle (TakeOrdered shape). */
  def annCosineTopk(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val pairs = broadcast(q).crossJoin(
        v.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annCosineTopkSql: String =
    """WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |           x -> x * x))) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(q.e, c.e), s -> s[1] * s[2]))
      |      / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |r AS (SELECT query_id, neighbor_id, cos, row_number() OVER
      |        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |      FROM p)
      |SELECT query_id, CAST(rk AS BIGINT) AS rank, neighbor_id,
      |       round(cos, 6) AS cosine
      |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin

  // --------------------------------------- A1b: filtered (predicated) ANN

  /** Filtered vector search — top-k UNDER A METADATA PREDICATE (here:
    * neighbors sharing the query's label), the query shape every
    * production vector store serves ("nearest docs in the same
    * language/source/tenant"). Post-filtering an unfiltered top-k is
    * WRONG (k survivors of the predicate may rank far below the global
    * top-k); the correct plan pushes the predicate INTO candidate
    * generation, which this does by joining on the label: the label key
    * both enforces the predicate and bounds the candidate set to the
    * label's partition — at scale, with the corpus partitioned by the
    * filter column, the scan touches only the query's partition
    * (zorder_layout's argument applied to vector search). Exact within
    * the filter, so fully hash-oracled. */
  def annFilteredTopk(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir)
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val pairs = broadcast(q)
      .join(v.select(col("vec_id").as("neighbor_id"), col("label"),
        col("v"), col("nrm")), Seq("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        dotNative(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("label"), col("rank"),
        col("neighbor_id"), round(col("cos"), 6).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annFilteredTopkSql: String =
    """WITH n AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |           x -> x * x))) AS nrm
      |  FROM embeddings),
      |p AS (
      |  SELECT q.vec_id AS query_id, q.label, c.vec_id AS neighbor_id,
      |    list_sum(list_transform(list_zip(q.e, c.e), s -> s[1] * s[2]))
      |      / (q.nrm * c.nrm) AS cos
      |  FROM n q JOIN n c ON q.vec_id < 5 AND c.label = q.label
      |    AND c.vec_id <> q.vec_id),
      |r AS (SELECT query_id, label, neighbor_id, cos, row_number() OVER
      |        (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rk
      |      FROM p)
      |SELECT query_id, label, CAST(rk AS BIGINT) AS rank, neighbor_id,
      |       round(cos, 6) AS cosine
      |FROM r WHERE rk <= 5 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------- A2: LSH-bucketed ANN (scale path)

  /** Random-hyperplane LSH, multi-table: default L=16 tables × 5 sign
    * bits, chosen by the recall-vs-budget sweep (tools.AnnSweep,
    * PLANS.md): 0.82 recall@1 at 41% of a brute-force sweep on the
    * adversarial no-cluster fixture (uniform noise is LSH's worst case —
    * recall rises only with the searched fraction; clustered corpora do
    * far better at the same settings, and at larger N you raise nBits
    * with log2(N) to hold bucket sizes). A pair
    * is a candidate if it shares a bucket in ANY table (union + distinct);
    * the NN is then exact over candidates only. Hyperplanes are seeded
    * driver-side constants, so the plan is deterministic. The only shuffle
    * is on (table, bucket); candidate verification is bucket-local — the
    * IVF/LSH scale path (probe: ~9× fewer comparisons than brute force at
    * sf0.01). Deterministic given the pinned planes → hash-oracled via
    * [[annLshBucket]]; AnnRecallSpec additionally gates recall@1 against
    * [[exactNn]] and the candidate budget. */
  /** Seeded hyperplanes, shared by the Spark query AND the DuckDB oracle
    * builder ([[annLshBucketSql]]) so both engines hash with literally the
    * same planes. Java's shortest-round-trip Double rendering means the
    * SQL literal parses back to the identical bits DuckDB-side. */
  private[operators] def lshPlanes(
      nTables: Int, nBits: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(nTables, nBits)(Array.fill(64)(rnd.nextGaussian()))
  }

  /** DATA-DERIVED LSH posture (r17, VERDICT r16 item 1 — the
    * dedup_containment_auto / kCellsFor pattern): candidates grow
    * ∝ L·N²/2^nBits at constant nBits (measured: 26.5 GiB spill at the
    * 10× fixture), so the DECLARED queries derive nBits from the corpus
    * size instead of pinning 5. The rule holds expected bucket
    * occupancy at ≤ [[lshBucketTarget]]: the smallest b in
    * [5, [[lshMaxBits]]] with target·2^b ≥ N — the r8/r15 documented
    * "+log2(scale)" lever, now in the query path. Exact integer
    * arithmetic so DuckDB derives the identical b (no float log2); at
    * every oracle-checked fixture (N ≤ 512) b = 5, i.e. the historical
    * results are bit-identical. */
  private[operators] val lshMaxBits = 16
  private[operators] val lshBucketTarget = 16L

  private[operators] def lshBitsFor(n: Long): Int = {
    var b = 5
    while (b < lshMaxBits && (lshBucketTarget << b) < n) b += 1
    b
  }

  /** [[lshPlanes]](nTables, 5) extended to [[lshMaxBits]] bits per table
    * by CONTINUING the same seeded gaussian stream (first the historical
    * 16×5 block, then the extension block), so the first-5-bits slice of
    * every table is bit-identical to the r8-pinned planes — a corpus
    * small enough to derive b = 5 produces the exact historical
    * relation. The derived-b query slices `.take(b)` per table. */
  private[operators] def lshPlanesWide(
      nTables: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    val base = Array.fill(nTables, 5)(Array.fill(64)(rnd.nextGaussian()))
    val extra = Array.fill(nTables, lshMaxBits - 5)(
      Array.fill(64)(rnd.nextGaussian()))
    base.zip(extra).map { case (b, e) => b ++ e }
  }

  /** Per-(vector, table) bucket relation (vec_id, tbl, bucket). */
  private def lshBucketRel(s: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    // WIDTH PIN (r16, the pcaFit precedent): the L×nBits dot products
    // per row (~5k FLOPs/vector) descend from the embeddings scan
    // through narrow ops, so a single-file fixture runs the whole
    // signature compute serially (measured 1.9-2.3 s one-task stages in
    // ann_lsh_bucket / dedup_emb_components_lsh). One explicit-width
    // vec_id-hash shuffle of the raw vectors (linear, ~0.5 KB/row)
    // parallelizes every signature pass; explicit because AQE
    // byte-coalesces keyed repartitions at these sizes.
    val v = vecs(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
    val tables = planes.indices.map { t =>
      val bucket = planes(t).indices.map { i =>
        val p = typedLit(planes(t)(i).toSeq)
        // native dot: L×nBits sign tests per row would otherwise run as
        // interpreted HOF lambdas
        when(dotNative(col("v"), p) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("tbl"), bucket.as("bucket"))
    }
    v.select(col("vec_id"), col("v"), col("nrm"),
        explode(array(tables: _*)).as("e"))
      .select(col("vec_id"), col("e.tbl"), col("e.bucket"))
  }

  def annLshNn(s: SparkSession, dir: String,
      nTables: Int = 16, nBits: Int = 5): DataFrame =
    annLshNnFrom(s, dir, lshBucketRel(s, dir, lshPlanes(nTables, nBits)))

  private def annLshNnFrom(s: SparkSession, dir: String,
      bv: DataFrame): DataFrame = {
    val v = vecs(s, dir)
    // distinct on the id pair only — vectors rejoin after dedup so the
    // shuffle payload stays narrow
    val candIds = bv.join(
        bv.select(col("tbl"), col("bucket"), col("vec_id").as("nn_id")),
        Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= col("nn_id"))
      .select(col("vec_id"), col("nn_id"))
      .distinct()
    val cand = candIds
      .join(v.select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(v.select(col("vec_id").as("nn_id"), col("v").as("vb"),
        col("nrm").as("nrmb")), Seq("nn_id"))
      .withColumn("cos", dotNative(col("v"), col("vb")) / (col("nrm") * col("nrmb")))
    // top-1 + candidate count in ONE hash aggregate — ArgMaxTiebreak
    // (primitive buffer) instead of max(struct(cos, -id)), whose struct
    // buffer silently demoted the whole aggregate (count included) to
    // SortAggregate over the candidate fan-out (r15 audit). The merged
    // agg still combines map-side before its one shuffle (the r9
    // row_number-window replacement, NOTES_r9).
    val top = cand.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_candidates"),
        graft.functions.ArgMax.arg_max_tiebreak(col("cos"), col("nn_id"))
          .as("c"))
      .select(col("vec_id"), col("n_candidates"),
        col("c.id").as("nn_id"), round(col("c.ord"), 6).as("cosine"))
    vecs(s, dir).select(col("vec_id"))
      .join(top, Seq("vec_id"), "left_outer")
      .na.fill(Map("n_candidates" -> 0L))
      .orderBy(col("vec_id"))
  }

  /** The LSH query surface — the per-vector relation, hash-oracled END TO
    * END (r10 verdict item 1): the 16-slot bucket signature (assignment),
    * the candidate-set size, and the exact argmax over candidates all
    * compare bit-for-bit against a DuckDB re-execution that receives the
    * SAME seeded hyperplanes as literals ([[annLshBucketSql]]). LSH stops
    * being "approximate-by-construction" once the planes are pinned: the
    * whole operator is a deterministic function of (corpus, planes), so it
    * gets the same cross-engine hash oracle as every exact operator. The
    * recall-vs-budget quality gate on [[annLshNn]] (AnnRecallSpec) stays
    * as the second, semantic check.
    *
    * `buckets` goes out as a '; '-joined STRING (house rule,
    * [[MwasPipelineQueries.condenseQuery]]): the driver's pandas-based
    * compare can't sort ARRAY cells (unhashable ndarray), and the join is
    * a bijection on the ordered signature — no information loss. */
  def annLshBucket(s: SparkSession, dir: String): DataFrame = {
    // data-derived nBits (r17): one scalar count, then the smallest b
    // holding bucket occupancy — b = 5 (the historical pin) at every
    // oracle fixture, +log2(scale) past them. The oracle SQL derives
    // the identical b from the same count (lshBkCtesSql's nb CTE).
    val bits = lshBitsFor(Tables(s, dir, "embeddings").count())
    // materialize the signature relation once (r16): THREE consumers —
    // the sig aggregate plus both sides of the candidate self-join —
    // and only the self-join's two reads share an exchange; unchecked,
    // the 80-dot-product scan re-runs per consumer
    val bv = lshBucketRel(s, dir, lshPlanesWide(16).map(_.take(bits)))
      .localCheckpoint(true)
    // 16-entry bucket signature per vector, table order — runs on |V|
    // rows post-aggregate, so the transform over sorted structs is cheap
    val sig = bv.groupBy(col("vec_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("tbl"), col("bucket")))),
        e => e.getField("bucket").cast("string")), "; ").as("buckets"))
    sig.join(annLshNnFrom(s, dir, bv), Seq("vec_id"))
      .select(col("vec_id"), col("buckets"), col("n_candidates"),
        col("nn_id"), col("cosine"))
      .orderBy(col("vec_id"))
  }

  /** Shared CTE block for the generated LSH oracles — planes → sign bits
    * → per-(vector, table) buckets, with the hyperplane literals
    * byte-derived from the same [[lshPlanes]] seed the Spark plans
    * compile in (Java's shortest-round-trip Double rendering parses back
    * to identical bits DuckDB-side). Used by [[annLshBucketSql]] and
    * [[dedupEmbComponentsLshSql]]. */
  private def lshBkCtesSql(planes: Array[Array[Array[Double]]]): String = {
    val rows = for { t <- planes.indices; b <- planes(t).indices } yield
      s"  ($t, $b, [${planes(t)(b).mkString(", ")}]::DOUBLE[])"
    // nb replays lshBitsFor in exact integer arithmetic: 5 + the number
    // of b in [5, lshMaxBits) with lshBucketTarget·2^b < count — the
    // same monotone predicate the Scala while-loop walks. planes carries
    // all lshMaxBits bits per table; bits prunes to the derived width.
    s"""planes(tbl, bit, p) AS (VALUES
       |${rows.mkString(",\n")}),
       |nb AS (SELECT 5 + count(*) AS nbits FROM range(5, $lshMaxBits) t(b)
       |       WHERE (CAST($lshBucketTarget AS BIGINT) << b)
       |             < (SELECT count(*) FROM embeddings)),
       |n AS (SELECT vec_id, embedding::DOUBLE[] AS e,
       |        sqrt(list_sum(list_transform(embedding::DOUBLE[],
       |          x -> x * x))) AS nrm
       |      FROM embeddings),
       |bits AS (
       |  SELECT n.vec_id, pl.tbl, pl.bit,
       |    CASE WHEN list_sum(list_transform(list_zip(n.e, pl.p),
       |           s -> s[1] * s[2])) >= 0
       |         THEN CAST(1 AS BIGINT) << pl.bit ELSE 0 END AS bval
       |  FROM n CROSS JOIN planes pl
       |  WHERE pl.bit < (SELECT nbits FROM nb)),
       |bk AS (SELECT vec_id, tbl, CAST(sum(bval) AS BIGINT) AS bucket
       |       FROM bits GROUP BY 1, 2)""".stripMargin
  }

  /** DuckDB oracle for [[annLshBucket]], generated (not handwritten) so the
    * hyperplane literals are byte-derived from the same [[lshPlanes]] seed
    * the Spark plan compiles in. */
  val annLshBucketSql: String = {
    s"""WITH ${lshBkCtesSql(lshPlanesWide(16))},
       |sig AS (SELECT vec_id,
       |          array_to_string(list(bucket::VARCHAR ORDER BY tbl),
       |            '; ') AS buckets
       |        FROM bk GROUP BY 1),
       |cand AS (SELECT DISTINCT a.vec_id, b.vec_id AS nn_id
       |         FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |         WHERE a.vec_id <> b.vec_id),
       |scored AS (SELECT c.vec_id, c.nn_id,
       |    list_sum(list_transform(list_zip(qa.e, qb.e), s -> s[1] * s[2]))
       |      / (qa.nrm * qb.nrm) AS cos
       |  FROM cand c JOIN n qa ON qa.vec_id = c.vec_id
       |              JOIN n qb ON qb.vec_id = c.nn_id),
       |r AS (SELECT vec_id, nn_id, cos,
       |        count(*) OVER (PARTITION BY vec_id) AS n_cand,
       |        row_number() OVER (PARTITION BY vec_id
       |          ORDER BY cos DESC, nn_id) AS rk
       |      FROM scored)
       |SELECT s.vec_id, s.buckets, coalesce(r.n_cand, 0) AS n_candidates,
       |       r.nn_id, round(r.cos, 6) AS cosine
       |FROM sig s LEFT JOIN r ON r.vec_id = s.vec_id AND r.rk = 1
       |ORDER BY s.vec_id""".stripMargin
  }

  // --------------------------- D7: near-dup clustering (keep-one-per-group)

  /** Connected components over the near-dup pair graph — the operator that
    * turns PAIRS into a deduplicated corpus (keep the minimum doc_id of
    * each cluster, drop the rest). Pairwise output alone under-deletes:
    * A~B and B~C must collapse to ONE survivor even when A~C was never
    * emitted.
    *
    * Distributed shape: the alternating large-star / small-star algorithm
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round is two keyed aggregations + joins, converges in
    * O(log n) rounds, state is only the edge list. The driver loop carries
    * one scalar per round (the convergence check); edges localCheckpoint
    * each round so lineage stays flat at 100 TB. No vertex ever sees more
    * than its neighborhood minimum — no collect, no giant adjacency lists.
    */
  def dedupComponents(s: SparkSession, dir: String): DataFrame = {
    // banded candidate edges (r16): this query only consumes the EDGE
    // SET, so it rides the linear-shuffle banded path like the fused
    // pipelines — the r15 audit's exact-arm row here (71.1 s, 44.7 GiB
    // spill at 30×) was the designed pair-mass superlinearity that the
    // banded arm avoids. The exact formulation stays the oracle
    // (band-miss waiver at the registration) and stays the default for
    // dedup_jaccard_pairs, which OUTPUTS the jaccard values.
    val edges0 = bandedWordEdges(
      docs(s, dir).select(col("doc_id"), col("source"), col("text")))
    val comp = connectedComponents(edges0)
      .select(col("u").as("doc_id"), col("v").as("component"))
    docs(s, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("keep", col("doc_id") === col("component"))
      .orderBy(col("doc_id"))
  }

  /** The alternating-star rounds over an undirected (u, v) edge list;
    * returns the converged (u → component-min) mapping (singletons
    * absent — callers left-join and coalesce). Shared by the text and
    * embedding clustering operators; the pair SOURCE is the pluggable
    * part, the contraction is identical. */
  /* One star-round composite per convergence check. Checking every 2
   * composites measured SLOWER at sf0.1 (6.72 vs 5.48 s median-of-5,
   * flat control; NOTES_r10): the fixpoint is reached in few composites
   * here, and the wasted composite past it (two shuffled aggregations +
   * joins over the full edge set) costs more than the halved
   * checkpoint+signature barriers save. The trade would flip on graphs
   * deep enough that barrier overhead dominates (many rounds, small
   * per-round delta). */
  private[operators] def connectedComponents(edges0: DataFrame)
      : DataFrame = {
    // large-star: every neighbor v > u re-points to m = min(Γ(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      sym.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    // small-star: each node's SMALLER neighbors (and itself) re-point to
    // the neighborhood minimum
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("big"),
        least(col("u"), col("v")).as("small"))
      val m = oriented.groupBy(col("big")).agg(min(col("small")).as("m"))
      val fromBig = m.select(col("big").as("u"), col("m").as("v"))
      val fromSmall = oriented.join(m, "big")
        .filter(col("small") =!= col("m"))
        .select(col("small").as("u"), col("m").as("v"))
      fromBig.union(fromSmall).distinct()
    }

    // one scalar action per round: an order-independent set signature —
    // bit_xor, NOT sum (ANSI mode makes a long-sum overflow throw, and
    // hash sums overflow by design); edges are distinct, so xor + count
    // identifies the set. The previous round's signature is carried
    // forward, never recomputed.
    def signature(e: DataFrame) =
      e.agg(expr("bit_xor(xxhash64(u, v))"), count(lit(1))).head()
    var edges = edges0.localCheckpoint(true)
    var prevSig = signature(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) { // log2(n) bound; 20 ≫ any real depth
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      // next is materialized, so the superseded round's blocks can go:
      // the block manager holds one round, not all of them
      graft.streaming.StreamingQueries.releaseCheckpoint(edges)
      edges = next
      rounds += 1
    }
    // silent use of a non-converged edge set would under-delete (clusters
    // with several keep=true survivors) — fail loudly like every other
    // invariant in this engine. 20 rounds ≫ the O(log n) expectation; a
    // graph that needs more deserves investigation, not a wrong answer.
    require(converged,
      s"connected components did not converge within $rounds rounds")
    // after convergence every edge is (node → its component's min id)
    edges
  }

  /** D5b: embedding near-dup CLUSTERING — the keep-one-per-cluster
    * operator over the cosine near-dup graph (cos ≥ 0.45, the same
    * threshold [[dedupEmbeddingNn]] flags). Pair derivation is the
    * chunked broadcast sweep with the threshold applied MAP-SIDE, so
    * the shuffle carries only the sparse near-dup edge list, never the
    * dense pair matrix; the contraction is the shared star-rounds. At
    * 100 TB the exact pair source swaps for the LSH candidate relation
    * ([[annLshNn]] pairs ≥ τ) — the clustering stage is unchanged. */
  def dedupEmbComponents(s: SparkSession, dir: String): DataFrame = {
    val nBlocks = 4
    // explicit-width streamed side — see exactNn (r15 audit).
    // Materialized once (r17 A/B at the 10× fixture, VERDICT r16 item
    // 7): the cast+norm+repartition subtree feeds all four block
    // branches on BOTH join sides (8 consumers); the checkpoint read
    // 10.1/7.9 → 8.9/7.2 s at 10× with shufW 22.2 → 14.1 MiB,
    // ~neutral (+0.3 s) at sf0.1.
    val v = vecs(s, dir).select(col("vec_id"), col("v"), col("nrm"))
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .localCheckpoint(true)
    val edges = (0 until nBlocks).map { k =>
      val block = v.filter(pmod(col("vec_id"), lit(nBlocks)) === k)
        .select(col("vec_id").as("nb_id"), col("v").as("vb"),
          col("nrm").as("nrmb"))
      v.join(broadcast(block), col("vec_id") < col("nb_id"))
        .filter(dotNative(col("v"), col("vb")) /
          (col("nrm") * col("nrmb")) >= 0.45)
        .select(col("vec_id").as("u"), col("nb_id").as("v"))
    }.reduce(_ union _)
    embComponentsFrom(s, dir, edges)
  }

  /** Shared tail of the three embedding-clustering arms: contract the
    * (u, v) edge list with the star rounds, left-join the mapping back
    * onto the vector universe, singletons become their own components. */
  private def embComponentsFrom(s: SparkSession, dir: String,
      edges: DataFrame): DataFrame = {
    val comp = connectedComponents(edges)
      .select(col("u").as("vec_id"), col("v").as("component"))
    vecs(s, dir).select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("vec_id")))
      .withColumn("keep", col("vec_id") === col("component"))
      .orderBy(col("vec_id"))
  }

  /** Shared closure tail for the three embedding-clustering oracles:
    * symmetrize a `pairs(pa, pb)` CTE, take the recursive reach, and
    * read the (vec_id, component, keep) relation off the embeddings
    * universe — the single source for what "clustered" means in SQL
    * (the doc-grain and entity-grain oracles differ in universe and
    * carried columns, so they state their own tails). */
  private val embClosureReachSql: String =
    """sym AS (SELECT pa AS a, pb AS b FROM pairs
      |        UNION ALL SELECT pb, pa FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |  WHERE s.b <> r.a)""".stripMargin

  private val embClosureTailSql: String =
    s"""$embClosureReachSql
      |SELECT v.vec_id,
      |       least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS component,
      |       least(v.vec_id, coalesce(min(r.b), v.vec_id)) = v.vec_id AS keep
      |FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
      |GROUP BY v.vec_id
      |ORDER BY v.vec_id""".stripMargin

  /** Same recursive-CTE closure as [[dedupComponentsSql]], over the
    * cosine pair graph. */
  val dedupEmbComponentsSql: String =
    s"""WITH RECURSIVE n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[],
      |           x -> x * x))) AS nrm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT a.vec_id AS pa, b.vec_id AS pb
      |  FROM n a JOIN n b ON a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(list_zip(a.e, b.e), s -> s[1] * s[2]))
      |      / (a.nrm * b.nrm) >= 0.45),
      |$embClosureTailSql""".stripMargin

  /** D5c: LSH-candidate clustering — the same clustering contract as
    * [[dedupEmbComponents]] (cos ≥ 0.45 edges → star-rounds contraction →
    * keep-min-per-component) with candidate generation routed through the
    * multi-table LSH bucket relation instead of the exact all-pairs
    * sweep.
    *
    * MEASURED NEGATIVE (r14 continuation — recorded, not hidden): this
    * arm does NOT scale for threshold clustering and is NOT the
    * production path. Random pairs collide in some bucket at a rate set
    * by (L, nBits) alone (~L/2^nBits ≈ 40% of ALL pairs at 16×5 — the
    * recall-vs-budget sweep's own physics), so the candidate set tracks
    * N² on any corpus; and holding occupancy by raising nBits collapses
    * RECALL at moderate thresholds (p_table = 0.685^nBits at cos 0.45).
    * Measured at the 10× fixture: 25.9 s (16×5) / 21.9 s (16×8) vs the
    * exact broadcast sweep's 9.5 s — the exact arm never materializes
    * pairs, this arm shuffles them. Sign-bit LSH is the right candidate
    * machinery for top-k NN ([[annLshNn]]), where only bucket-MATES are
    * scored; for threshold clustering the scale arm is the cell-bounded
    * [[dedupEmbComponentsCells]] (K grows with N; measured slope 1.3×).
    * The operator stays registered because it is a complete, oracled,
    * refinement-proven relation a user may still want at NN-like
    * thresholds (cos ≳ 0.8, where per-pair recall is high and bucket
    * occupancy prunes hard).
    *
    * Same posture as [[annLshBucket]]: with the hyperplanes pinned the
    * operator is a deterministic function of (corpus, planes), so the
    * FULL relation — candidate set, edge set, component structure — is
    * hash-oracled end to end against a DuckDB replay that receives the
    * same planes as literals. Semantics vs the exact arm: the edge set is
    * a subset (a ≥ 0.45 pair sharing no bucket in any of the 16 tables is
    * not a candidate — P(miss) ≈ (1 − p^5)^16 with p = 1 − θ/π, ~14% at
    * cos = 0.45 and falling fast toward cos = 1), so LSH components only
    * ever REFINE exact components; DedupEmbLshSpec pins exactly that
    * containment plus edge-subset, and the measured overlap on the
    * fixtures. */
  def dedupEmbComponentsLsh(s: SparkSession, dir: String,
      nTables: Int = 16, nBits: Int = 5): DataFrame =
    dedupEmbComponentsLshFrom(s, dir, lshPlanes(nTables, nBits))

  /** The DECLARED arm: nBits data-derived at held bucket occupancy
    * ([[lshBitsFor]] — r17, VERDICT r16 item 1), b = 5 at every
    * oracle fixture so historical results are bit-identical. Raising b
    * with N trades recall exactly as the operator's scaladoc prices it
    * (p_table = 0.685^b at cos 0.45); the refinement contract —
    * LSH components REFINE exact components — holds at ANY b, and the
    * scale arm for threshold clustering remains the cells path. */
  private def dedupEmbComponentsLshAuto(s: SparkSession,
      dir: String): DataFrame = {
    val bits = lshBitsFor(Tables(s, dir, "embeddings").count())
    dedupEmbComponentsLshFrom(s, dir, lshPlanesWide(16).map(_.take(bits)))
  }

  private def dedupEmbComponentsLshFrom(s: SparkSession, dir: String,
      planes: Array[Array[Array[Double]]]): DataFrame = {
    // materialized once for the self-join's two reads (r16, the
    // annLshBucket note)
    val bv = lshBucketRel(s, dir, planes)
      .localCheckpoint(true)
    val v = vecs(s, dir).select(col("vec_id"), col("v"), col("nrm"))
    // distinct on the id pair only (the annLshNnFrom shape): vectors
    // rejoin after dedup so the bucket shuffle stays narrow
    val candIds = bv.join(
        bv.select(col("tbl"), col("bucket"), col("vec_id").as("nb_id")),
        Seq("tbl", "bucket"))
      .filter(col("vec_id") < col("nb_id"))
      .select(col("vec_id"), col("nb_id"))
      .distinct()
    val edges = candIds
      .join(v, Seq("vec_id"))
      .join(v.select(col("vec_id").as("nb_id"), col("v").as("vb"),
        col("nrm").as("nrmb")), Seq("nb_id"))
      .filter(dotNative(col("v"), col("vb")) /
        (col("nrm") * col("nrmb")) >= 0.45)
      .select(col("vec_id").as("u"), col("nb_id").as("v"))
    embComponentsFrom(s, dir, edges)
  }

  /** D5d: CELL-BOUNDED clustering — the "finer cells" lever the r14
    * slope audit recorded for the exact arm, and the arm that actually
    * scales for threshold clustering. Candidates are same-cell pairs
    * under the frozen first-K quantizer ([[SemDedupQueries.cellAssign]],
    * the SemDedup machinery): within-cell pair work is Σ c² with
    * c = N/K, so K growing with N holds per-cell work constant and total
    * pair work LINEAR — the knob the SemDedup paper scales to 10⁸
    * embeddings with. The sign-bit LSH arm ([[dedupEmbComponentsLsh]])
    * cannot do this at threshold 0.45: random pairs collide in some
    * bucket at a rate set by (L, nBits) alone (~40% at 16×5 — the
    * recall-vs-budget sweep's own physics), so its candidate set tracks
    * N² on any corpus, while cells track N at held occupancy. Measured
    * at the 10× fixture in NOTES_r14's continuation table.
    *
    * Same oracle posture as [[SemDedupQueries.semDedup]]: the frozen
    * codebook makes assignment, edges, and components exact functions of
    * the corpus; DuckDB replays the identical ladder. Semantics: edges
    * are the cos ≥ 0.45 pairs that share a cell — a subset of the exact
    * arm's, so cell components REFINE exact components
    * (DedupEmbCellsSpec). */
  /* K is DATA-DERIVED at held cell occupancy (the SemDedup paper's own
   * scaling rule, K ∝ N): K = max(2, ceil(N / 125)) in exact integer
   * arithmetic on BOTH engines, and the chosen K rides in the compared
   * schema (`k_cells`) so a derivation mismatch is a HASH FAIL, not a
   * log line — the dedup_containment_auto precedent. One scalar count
   * to the driver; the codebook stays the frozen first-K-by-vec_id
   * sample, so assignment remains an exact function of the corpus. */
  private[operators] val cellTargetSize = 125L

  private[operators] def kCellsFor(n: Long): Int =
    math.max(2L, (n + cellTargetSize - 1L) / cellTargetSize).toInt

  def dedupEmbComponentsCells(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "embeddings").count()
    dedupEmbComponentsCellsAt(s, dir, kCellsFor(n))
  }

  /** Fixed-K form — the occupancy-knob measurement arm
    * ([[graft.operators.tools.StressFixture]]). */
  private[operators] def dedupEmbComponentsCellsAt(s: SparkSession,
      dir: String, kCells: Int): DataFrame = {
    val assign = SemDedupQueries.cellAssign(s, dir, kCells)
    val nb = assign.select(col("cell"), col("vec_id").as("nb_id"),
      col("v").as("vb"), col("nrm").as("nrmb"))
    val edges = assign.join(nb, Seq("cell"))
      .filter(col("vec_id") < col("nb_id"))
      .filter(dotNative(col("v"), col("vb")) /
        (col("nrm") * col("nrmb")) >= 0.45)
      .select(col("vec_id").as("u"), col("nb_id").as("v"))
    embComponentsFrom(s, dir, edges)
      .withColumn("k_cells", lit(kCells.toLong))
  }

  /** Generated oracle: the shared cell-assignment CTEs
    * ([[SemDedupQueries.cellCtesSql]]), same-cell cosine-verified pairs,
    * then the recursive closure shared by every clustering oracle. */
  private val cellsKSqlExpr: String =
    "(SELECT greatest(2, (count(*) + 124) // 125) FROM embeddings)"

  val dedupEmbComponentsCellsSql: String =
    s"""WITH RECURSIVE ${SemDedupQueries.cellCtesSqlExpr(cellsKSqlExpr)},
       |pairs AS (
       |  SELECT x.vec_id AS pa, p.vec_id AS pb
       |  FROM a x JOIN a p ON x.cell = p.cell AND x.vec_id < p.vec_id
       |  WHERE list_sum(list_transform(list_zip(x.e, p.e),
       |          z -> z[1] * z[2])) / (x.nrm * p.nrm) >= 0.45),
       |$embClosureReachSql
       |SELECT v.vec_id,
       |       least(v.vec_id, coalesce(min(r.b), v.vec_id)) AS component,
       |       least(v.vec_id, coalesce(min(r.b), v.vec_id)) = v.vec_id
       |         AS keep,
       |       CAST($cellsKSqlExpr AS BIGINT) AS k_cells
       |FROM embeddings v LEFT JOIN reach r ON r.a = v.vec_id
       |GROUP BY v.vec_id
       |ORDER BY v.vec_id""".stripMargin

  /** Generated oracle: the [[lshBkCtesSql]] bucket ladder (same plane
    * literals as the Spark plan), bucket-mate candidates, cosine-verified
    * edges, then the same recursive-CTE closure as
    * [[dedupEmbComponentsSql]]. */
  val dedupEmbComponentsLshSql: String =
    s"""WITH RECURSIVE ${lshBkCtesSql(lshPlanesWide(16))},
       |cand AS (SELECT DISTINCT a.vec_id AS pa, b.vec_id AS pb
       |         FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |         WHERE a.vec_id < b.vec_id),
       |pairs AS (
       |  SELECT c.pa, c.pb FROM cand c
       |  JOIN n qa ON qa.vec_id = c.pa
       |  JOIN n qb ON qb.vec_id = c.pb
       |  WHERE list_sum(list_transform(list_zip(qa.e, qb.e),
       |          s -> s[1] * s[2])) / (qa.nrm * qb.nrm) >= 0.45),
       |$embClosureTailSql""".stripMargin

  /** Transitive closure by recursive CTE — feasible at oracle scale, and
    * exactly the semantics the star rounds converge to. */
  val dedupComponentsSql: String =
    """WITH RECURSIVE pairs AS (
      |  WITH w AS (SELECT doc_id, source,
      |    list_distinct(string_split(text, ' ')) AS w FROM documents)
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.w, b.w))) >= 0.7),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |  WHERE s.b <> r.a)
      |SELECT d.doc_id,
      |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component,
      |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) = d.doc_id AS keep
      |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- registry

  // ---------------- D8: canonical selection (keep-BEST-per-cluster, r10)

  /** The end-to-end dedup a training-data pipeline actually ships: the
    * MinHash-LSH verified pair graph ([[minhashPairs]]) contracted to
    * clusters (shared star rounds), with the SURVIVOR chosen by document
    * quality — `TextQueries.qualityScore`, the composite the
    * `text_quality` oracle already proves cross-engine exact — not by
    * minimum id. Tie-break: equal rounded quality keeps the smallest
    * doc_id (pinned by `DedupCanonicalSpec`). Reference analogue: the
    * set-maker's keep-one semantics (main/metadata_set_maker.py:89-94)
    * lifted from metadata sets to corpus grain.
    *
    * Scale shape: pair source and contraction are the proven
    * sub-quadratic paths; the survivor argmax
    * (`max(struct(quality, -doc_id))`) runs as a PARTITION-ONLY window
    * over `component` — no ORDER BY, so no value sort, and critically
    * the upstream (docs scan → quality explode/agg → comp join) stays
    * single-pass. The groupBy-argmax + join-back alternative duplicates
    * that whole subtree under both join branches (Catalyst does not
    * reuse common subplans — its formatted plan showed the corpus read
    * and scored twice); the r10 A/B (NOTES_r10) measured the window form
    * 11% faster at sf0.1 and 15% at the 10× stress fixture with
    * result-set equality gated, and the gap grows with corpus size
    * since the duplicated work IS the corpus pass. (Not the r9 ANN
    * case in reverse: there the window paid a per-partition ORDER BY
    * sort and the join-back side was broadcast-small.) No driver state
    * beyond the CC convergence scalar.
    */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val edges = minhashPairs(s, dir)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))
    val comp = connectedComponents(edges)
      .select(col("u").as("doc_id"), col("v").as("component"))
    val w = Window.partitionBy(col("component"))
    docs(s, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .join(TextQueries.qualityScore(s, dir), Seq("doc_id"))
      // single-pass argmax: max quality, then min doc_id via negated id
      .withColumn("best",
        max(struct(col("quality"), (-col("doc_id")).as("neg_id"))).over(w))
      .select(col("doc_id"), col("component"),
        (-col("best.neg_id")).as("canonical_id"), col("quality"),
        (col("doc_id") === -col("best.neg_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Recursive-CTE closure over the exhaustive 3-gram pair graph (exact-
    * equivalent to the LSH pair set at J≥0.7 — miss prob ≈6e-10, same
    * argument as [[dedupMinhashLshSql]]), survivor by the `text_quality`
    * score with the doc_id tie-break as a window rank. */
  /** The canonical-survivor CTE ladder, shared by the dedup_canonical
    * oracle and the dedup-first containment composition. */
  private val canonicalCtes: String =
    """sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |  WHERE len(w) >= 3),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) a
      |  JOIN (SELECT doc_id, unnest(s) AS g FROM sh) b
      |    ON a.g = b.g AND a.doc_id < b.doc_id),
      |verified AS (
      |  SELECT p.doc_a, p.doc_b
      |  FROM pairs p JOIN sh x ON p.doc_a = x.doc_id
      |               JOIN sh y ON p.doc_b = y.doc_id
      |  WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      |      / len(list_distinct(list_concat(x.s, y.s))) >= 0.7),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM verified
      |        UNION ALL SELECT doc_b, doc_a FROM verified),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |  WHERE s.b <> r.a),
      |comp AS (
      |  SELECT d.doc_id,
      |         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
      |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      |  GROUP BY d.doc_id),
      |q AS (
      |  SELECT doc_id,
      |    round(least(n_words / 200.0, 1.0) * 0.5 + (stop_cnt / n_words)
      |      * 0.3 + (1.0 - punct_cnt / n_chars) * 0.2, 6) AS quality
      |  FROM (SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w IN
      |      ('the','a','and','of','to','in','is','it','that','for')))
      |      AS DOUBLE) AS stop_cnt,
      |    CAST(length(text) - length(regexp_replace(text, '[.,;:!?()-]',
      |      '', 'g')) AS DOUBLE) AS punct_cnt
      |  FROM documents)),
      |joined AS (
      |  SELECT c.doc_id, c.component, q.quality FROM comp c
      |  JOIN q ON q.doc_id = c.doc_id),
      |surv AS (
      |  SELECT component, doc_id AS canonical_id FROM (
      |    SELECT component, doc_id, row_number() OVER (
      |      PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
      |    FROM joined) WHERE rn = 1)""".stripMargin

  val dedupCanonicalSql: String =
    s"""WITH RECURSIVE $canonicalCtes
       |SELECT j.doc_id, j.component, s.canonical_id, j.quality,
       |       j.doc_id = s.canonical_id AS keep
       |FROM joined j JOIN surv s ON s.component = j.component
       |ORDER BY j.doc_id""".stripMargin

  /** dedup-first containment: the canonical ladder's survivors, then
    * the naive containment spelling restricted to them. */
  val dedupContainmentDedupFirstSql: String =
    s"""WITH RECURSIVE $canonicalCtes,
       |keepers AS (SELECT DISTINCT canonical_id AS doc_id FROM surv),
       |wk AS (SELECT d.doc_id, d.source,
       |         list_distinct(string_split(d.text, ' ')) AS w
       |       FROM documents d JOIN keepers k ON k.doc_id = d.doc_id)
       |SELECT doc_a, doc_b, containment, jaccard FROM (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
       |      / least(len(a.w), len(b.w)) AS containment,
       |    CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.w, b.w))) AS jaccard
       |  FROM wk a JOIN wk b ON a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE containment >= 0.95
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------- D9: the composed curation funnel (r12)

  /** The curation pipeline a training-data team actually runs, composed
    * from this engine's own stages into ONE relation: raw corpus →
    * quality floor ([[TextQueries.qualityScore]], the oracle-proven
    * composite at the textFilterPipeline bar) → exact dedup (min doc_id
    * per md5(text)) → near-dup contraction (the word-Jaccard pair graph
    * at 0.7 through [[connectedComponents]], component-min survivor).
    * Output is the FUNNEL — per stage, surviving docs and bytes — the
    * report that tells you what each stage costs before you commit a
    * 100 TB run to it.
    *
    * Every stage reuses the operator subtree its standalone query ships
    * (qualityScore, the banded candidate path [[bandedWordEdges]] with
    * its length-ratio prefilter and exact verify, the star-contraction
    * rounds), so the funnel's cross-engine hash oracle transitively
    * re-proves the composition, not just the parts — modulo the
    * band-miss waiver recorded at the registration.
    * Scale shape: four aggregates over successively smaller relations;
    * the near-dup stage is the standalone components plan restricted to
    * exact-dedup survivors (strictly cheaper than the full-corpus run).
    * The four stage subtrees share the s1/s2 lineage lazily — each
    * stage is one job over pruned columns; nothing is collected. */
  def corpusCurationFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
    // each survivor set feeds THREE downstream consumers (its own stat
    // branch + the next stage's derivation); localCheckpoint computes
    // the quality explode and the md5 dedup ONCE instead of per branch
    // (measured 5.24 → see NOTES_r12). The materialization is bounded
    // by the surviving corpus — the same budget any staged pipeline run
    // pays between stages.
    val s1 = d.join(TextQueries.qualityScore(s, dir), Seq("doc_id"))
      .filter(col("quality") >= 0.35)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    val s2 = s1.join(
      s1.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    // near-dup stage on the banded candidate path (VERDICT r15 item 3)
    // — same J ≥ 0.7 edges as the exact arm modulo the recorded
    // band-miss waiver; the exact formulation stays the oracle's
    val comp = connectedComponents(bandedWordEdges(s2))
      .select(col("u").as("doc_id"), col("v").as("component"))
    val s3 = s2.join(comp, Seq("doc_id"), "left_outer")
      .filter(coalesce(col("component"), col("doc_id")) === col("doc_id"))
    def stat(stage: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("n_chars"))
        .select(lit(stage).cast("long").as("stage"),
          lit(name).as("stage_name"), col("n_docs"), col("n_chars"))
    stat(0, "raw", d)
      .unionByName(stat(1, "quality", s1))
      .unionByName(stat(2, "exact_dedup", s2))
      .unionByName(stat(3, "near_dedup", s3))
      .orderBy(col("stage"))
  }

  /** The fused end-to-end curation pipeline — the composition real
    * users run as ONE job where [[corpusCurationFunnel]] reports stage
    * stats: quality floor → exact dedup → near-dup contraction →
    * near-dup-aware Hamilton split → token-budget shard packing, one
    * composed plan emitting the training-ready survivor manifest
    * (doc_id, source, component, split, quality, n_tokens, shard).
    *
    * Stage semantics are the standalone operators', unchanged: quality
    * ≥ 0.35 ([[TextQueries.qualityScore]]), min-doc_id per md5(text),
    * the J ≥ 0.7 word-Jaccard components over survivors (shared
    * [[jaccardJoin]] + [[connectedComponents]]), component-min
    * survivorship. The split is [[SplitQueries.splitByComponent]]'s
    * contract COLLAPSED to the survivor grain: post-dedup, each
    * component is exactly its surviving representative, and no J ≥ 0.7
    * pair exists between survivors at all — zero leakage holds by
    * construction without a component join (CorpusPipelineE2eSpec
    * drives the pair relation over the output and asserts it).
    * Packing: per (split, source), docs ordered by the house portable
    * hash accumulate tokens; shard = running-total div 500 — the
    * deterministic shard manifest a tokenizer fleet consumes.
    *
    * Plan shape: the two survivor sets materialize ONCE
    * (localCheckpoint, the funnel's bounded-staging argument) and every
    * later stage derives from them. The EDGE relation is parameterized
    * (VERDICT r15 item 3): the default is the banded MinHash candidate
    * path ([[bandedWordEdges]] — shuffles ∝ 32·N slim signature rows,
    * exact verify ∝ candidates, the shape that survives 100 TB), while
    * the exact inclusion–exclusion arm ([[edgesE2e]], the bounded
    * broadcast posture) remains the ORACLE formulation and the spec's
    * cross-check: CorpusPipelineE2eSpec asserts the two arms produce
    * the same edges and the same pipeline output on the fixture.
    * Either way the self-join's exchange is planned once and reused
    * for the other side (spec-asserted with AQE off, the PipelineSpec
    * precedent). The split/pack tail is window algebra over the
    * survivor relation — partitioned by (split, source), so no global
    * sort appears before the final presentation orderBy. */
  def corpusPipelineE2e(s: SparkSession, dir: String): DataFrame =
    corpusPipelineE2e(s, dir, bandedWordEdges)

  /** [[corpusPipelineE2e]] with an explicit edge relation over the
    * exact-dedup survivor docs (doc_id, source, text). */
  private[operators] def corpusPipelineE2e(s: SparkSession, dir: String,
      edges: DataFrame => DataFrame): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
    val s1 = d.join(TextQueries.qualityScore(s, dir), Seq("doc_id"))
      .filter(col("quality") >= 0.35)
      .select(col("doc_id"), col("source"), col("text"), col("quality"))
      .localCheckpoint(true)
    val s2 = s1.join(
      s1.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val comp = connectedComponents(
      edges(s2))
      .select(col("u").as("doc_id"), col("v").as("component"))
    val s3 = s2.join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .filter(col("component") === col("doc_id"))
    manifestTail(s3)
  }

  /** The fused pipeline's split/pack TAIL over the near-dup survivor
    * relation (doc_id, source, text, quality, component) — factored so
    * the incremental twin ([[StreamingCurationQueries]]) replays the
    * literally-same readout over its accumulated survivor store:
    * Hamilton 80/10/10 at the survivor (= component) grain, then the
    * token-budget pack — int64 all the way (the splitByComponent
    * rules). */
  private[operators] def manifestTail(s3: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = s3.select(col("component"), col("source"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("source")).orderBy(
          graft.functions.PortableHash.raw(col("component")),
          col("component"))).cast("long"))
    val quota = ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("ft", expr("8 * n div 10"))
      .withColumn("fv", expr("n div 10"))
      .withColumn("r", col("n") - col("ft") - lit(2) * col("fv"))
      .withColumn("rt", expr("(8 * n) % 10"))
      .withColumn("rv", expr("n % 10"))
      .withColumn("t1", col("ft") + when(col("rt") >= col("rv"),
        when(col("r") >= 1, 1).otherwise(0))
        .otherwise(when(col("r") >= 3, 1).otherwise(0)))
      .withColumn("vx", col("fv") + when(col("rt") >= col("rv"),
        when(col("r") >= 2, 1).otherwise(0))
        .otherwise(when(col("r") >= 1, 1).otherwise(0)))
      .select(col("source"), col("t1"), col("vx"))
    val csplit = ranked.join(broadcast(quota), Seq("source"))
      .select(col("component"),
        when(col("rk") <= col("t1"), lit("train"))
          .when(col("rk") <= col("t1") + col("vx"), lit("val"))
          .otherwise(lit("test")).as("split"))
    val packed = s3.join(csplit, Seq("component"))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(
        Window.partitionBy(col("split"), col("source")).orderBy(
          graft.functions.PortableHash.raw(col("doc_id")), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard", expr("start_off div 500"))
    packed.select(col("doc_id"), col("source"), col("component"),
        col("split"), col("quality"), col("n_tokens"), col("shard"))
      .orderBy(col("doc_id"))
  }

  /** The exact (inclusion–exclusion) edge relation over a word
    * relation — the e2e pipeline's ORACLE-posture arm, factored so
    * CorpusPipelineE2eSpec can assert its exchange-reuse plan shape in
    * isolation (AQE off) and cross-check it against the banded
    * default. */
  private[operators] def edgesE2e(w2: DataFrame): DataFrame =
    jaccardJoin(w2, w2, _ < _)
      .select(col("doc_a").as("u"), col("doc_b").as("v"))

  /** [[edgesE2e]] over a documents relation — the exact arm in the
    * parameterized pipeline's (docs → edges) shape. */
  private[operators] def exactWordEdges(d: DataFrame): DataFrame =
    edgesE2e(wordRelOf(d))

  val corpusPipelineE2eSql: String =
    """WITH RECURSIVE sc AS (
      |  SELECT doc_id, source, text,
      |    round(least(len(string_split(text,' ')) / 200.0, 1.0) * 0.5
      |      + (CAST(len(list_filter(string_split(text,' '), w -> w IN
      |          ('the','a','and','of','to','in','is','it','that','for')))
      |          AS DOUBLE) / len(string_split(text,' '))) * 0.3
      |      + (1.0 - CAST(length(text) - length(regexp_replace(text,
      |          '[.,;:!?()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.2,
      |      6) AS quality
      |  FROM documents),
      |s1 AS (SELECT doc_id, source, text, quality FROM sc
      |       WHERE quality >= 0.35),
      |s2 AS (SELECT doc_id, source, text, quality FROM s1
      |       WHERE doc_id IN (SELECT min(doc_id) FROM s1
      |                        GROUP BY md5(text))),
      |w AS (SELECT doc_id, source,
      |      list_distinct(string_split(text, ' ')) AS w FROM s2),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.w, b.w))) >= 0.7),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, x.b FROM reach r JOIN sym x ON r.b = x.a
      |  WHERE x.b <> r.a),
      |comp AS (SELECT d.doc_id, d.source, d.text, d.quality,
      |           least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
      |         FROM s2 d LEFT JOIN reach r ON r.a = d.doc_id
      |         GROUP BY d.doc_id, d.source, d.text, d.quality),
      |s3 AS (SELECT * FROM comp WHERE component = doc_id),
      |ranked AS (
      |  SELECT component, source, CAST(row_number() OVER (
      |      PARTITION BY source ORDER BY
      |      CAST(('0x' || substr(md5(CAST(component AS VARCHAR)), 1, 15))
      |        AS BIGINT), component) AS BIGINT) AS rk
      |  FROM s3),
      |quota AS (
      |  SELECT source, count(*) AS n,
      |         (8 * count(*)) // 10 AS ft, count(*) // 10 AS fv,
      |         count(*) - (8 * count(*)) // 10 - 2 * (count(*) // 10) AS r,
      |         (8 * count(*)) % 10 AS rt, count(*) % 10 AS rv
      |  FROM ranked GROUP BY source),
      |cut AS (
      |  SELECT source,
      |    ft + CASE WHEN rt >= rv
      |              THEN CASE WHEN r >= 1 THEN 1 ELSE 0 END
      |              ELSE CASE WHEN r >= 3 THEN 1 ELSE 0 END END AS t1,
      |    fv + CASE WHEN rt >= rv
      |              THEN CASE WHEN r >= 2 THEN 1 ELSE 0 END
      |              ELSE CASE WHEN r >= 1 THEN 1 ELSE 0 END END AS vx
      |  FROM quota),
      |csplit AS (
      |  SELECT r.component,
      |         CASE WHEN r.rk <= c.t1 THEN 'train'
      |              WHEN r.rk <= c.t1 + c.vx THEN 'val'
      |              ELSE 'test' END AS split
      |  FROM ranked r JOIN cut c USING (source)),
      |o AS (
      |  SELECT s3.doc_id, s3.source, s3.component, cs.split, s3.quality,
      |         CAST(len(string_split(s3.text, ' ')) AS BIGINT) AS n_tokens
      |  FROM s3 JOIN csplit cs USING (component)),
      |pk AS (
      |  SELECT *, coalesce(sum(n_tokens) OVER (
      |      PARTITION BY split, source ORDER BY
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
      |        AS BIGINT), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS start_off
      |  FROM o)
      |SELECT doc_id, source, component, split, quality, n_tokens,
      |       CAST(start_off // 500 AS BIGINT) AS shard
      |FROM pk ORDER BY doc_id""".stripMargin

  val corpusCurationFunnelSql: String =
    """WITH RECURSIVE sc AS (
      |  SELECT doc_id, source, text,
      |    round(least(len(string_split(text,' ')) / 200.0, 1.0) * 0.5
      |      + (CAST(len(list_filter(string_split(text,' '), w -> w IN
      |          ('the','a','and','of','to','in','is','it','that','for')))
      |          AS DOUBLE) / len(string_split(text,' '))) * 0.3
      |      + (1.0 - CAST(length(text) - length(regexp_replace(text,
      |          '[.,;:!?()-]', '', 'g')) AS DOUBLE) / length(text)) * 0.2,
      |      6) AS quality
      |  FROM documents),
      |s1 AS (SELECT doc_id, source, text FROM sc WHERE quality >= 0.35),
      |s2 AS (SELECT doc_id, source, text FROM s1
      |       WHERE doc_id IN (SELECT min(doc_id) FROM s1
      |                        GROUP BY md5(text))),
      |w AS (SELECT doc_id, source,
      |      list_distinct(string_split(text, ' ')) AS w FROM s2),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.w, b.w)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.w, b.w))) >= 0.7),
      |sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, b FROM sym
      |  UNION
      |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
      |  WHERE s.b <> r.a),
      |comp AS (SELECT d.doc_id,
      |           least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS component
      |         FROM s2 d LEFT JOIN reach r ON r.a = d.doc_id
      |         GROUP BY d.doc_id),
      |s3 AS (SELECT s2.doc_id, s2.text FROM s2
      |       JOIN comp ON comp.doc_id = s2.doc_id
      |       WHERE comp.component = s2.doc_id)
      |SELECT stage, stage_name, n_docs, n_chars FROM (
      |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
      |         CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(length(text)) AS BIGINT) AS n_chars
      |  FROM documents
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), 'quality', CAST(count(*) AS BIGINT),
      |         CAST(sum(length(text)) AS BIGINT) FROM s1
      |  UNION ALL
      |  SELECT CAST(2 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
      |         CAST(sum(length(text)) AS BIGINT) FROM s2
      |  UNION ALL
      |  SELECT CAST(3 AS BIGINT), 'near_dedup', CAST(count(*) AS BIGINT),
      |         CAST(sum(length(text)) AS BIGINT) FROM s3)
      |ORDER BY stage""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("dedup_exact", dedupExact _, Some(dedupExactSql)),
      ("dedup_canonical", dedupCanonical _, Some(dedupCanonicalSql)),
      // dedup_components runs the banded candidate path against the
      // exact SQL oracle — same probabilistic-equality waiver as the
      // composed pipelines below ((1−J²)³² ≤ 4.4e-10 per qualifying
      // pair, verification exact)
      ("dedup_components", dedupComponents _, Some(dedupComponentsSql)),
      // banded candidate path with the verified jaccard emitted (r17) —
      // same probabilistic-equality waiver as dedup_components: a true
      // J ≥ 0.7 pair misses all 32 bands with probability ≤ 4.4e-10
      // (exact-dup pairs can no longer miss at all — pre-contraction
      // emits them deterministically), verification exact, values the
      // same doubles the exact SQL divides
      ("dedup_jaccard_pairs", dedupJaccardPairs _, Some(dedupJaccardPairsSql)),
      ("dedup_minhash_lsh", dedupMinhashLsh _, Some(dedupMinhashLshSql)),
      ("dedup_simhash", dedupSimhash _, Some(dedupSimhashSql)),
      ("dedup_embedding_nn", dedupEmbeddingNn _, Some(dedupEmbeddingNnSql)),
      ("dedup_emb_components", dedupEmbComponents _,
        Some(dedupEmbComponentsSql)),
      ("dedup_emb_components_lsh",
        (s: SparkSession, d: String) => dedupEmbComponentsLshAuto(s, d),
        Some(dedupEmbComponentsLshSql)),
      ("dedup_emb_components_cells",
        (s: SparkSession, d: String) => dedupEmbComponentsCells(s, d),
        Some(dedupEmbComponentsCellsSql)),
      ("ann_cosine_topk", annCosineTopk _, Some(annCosineTopkSql)),
      ("ann_filtered_topk", annFilteredTopk _, Some(annFilteredTopkSql)),
      ("dedup_containment", dedupContainment _, Some(dedupContainmentSql)),
      ("dedup_containment_prefix", dedupContainmentPrefix _,
        Some(dedupContainmentSql)), // same relation — shared oracle
      ("dedup_containment_dedupfirst", dedupContainmentDedupFirst _,
        Some(dedupContainmentDedupFirstSql)),
      ("dedup_containment_auto", dedupContainmentAuto _,
        Some(dedupContainmentAutoSql)),
      // PROBABILISTIC-EQUALITY WAIVER (ADVICE r15, the
      // stream_minhash_dedup precedent): both composed pipelines run
      // their near-dup stage on the MinHash-banded candidate path
      // (bandedWordEdges) while the oracles stay the EXACT word-Jaccard
      // SQL. A true J ≥ 0.7 pair misses all 32 bands with probability
      // (1−J²)³² ≤ 4.4e-10; verification is exact, so no false edge
      // ever enters. A hash mismatch on these rows should be triaged as
      // a possible band-miss (diff bandedWordEdges vs exactWordEdges on
      // the survivors) before code archaeology.
      ("corpus_curation_funnel", corpusCurationFunnel _,
        Some(corpusCurationFunnelSql)),
      ("corpus_pipeline_e2e", corpusPipelineE2e _,
        Some(corpusPipelineE2eSql)),
      ("ann_lsh_bucket", annLshBucket _, Some(annLshBucketSql)))
}
