package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.BinaryType

import graft.core.Tables

/** Bloom-filter decontamination — the 100 TB shape of the benchmark-
  * overlap scan.
  *
  * [[TextQueries.textDecontaminate]] joins every probe-document n-gram
  * against the benchmark gram set. At test scale that join is a cheap
  * broadcast; at corpus scale the probe side is the full training corpus
  * EXPLODED TO GRAM GRAIN — orders of magnitude more rows than documents
  * — and every one of them pays the join (as shuffle input once the
  * benchmark side outgrows broadcast). But almost all grams are clean:
  * the right primitive is a broadcast Bloom filter, which rejects clean
  * grams at scan time for ~10 bits each, and only the surviving sliver
  * (true hits + the fp-rate of false positives) enters the exact
  * verification join. False positives cannot reach the output — the
  * verify join removes them — so the bloom changes the PLAN, not the
  * relation, and this query hash-oracles against the literally-same SQL
  * as the exact twin. This is the standard two-phase shape (Delta/Iceberg
  * bloom indexes, broadcast-bloom row filtering in Spark's own runtime
  * filtering) stated as an operator.
  *
  * Measured (NOTES_r11, bloom prefilter A/B, 10× fixture, broadcast
  * disabled on both arms to force the big-benchmark join strategy): the
  * sieve cuts semi-join shuffle volume 48% at the fixture's mere 9:1
  * probe:bench gram ratio — the reduction is proportional to that
  * ratio, approaching (1 − fp) for a fixed benchmark suite against a
  * growing corpus — while single-host wall-clock LOSES at fixture scale
  * (the sketch build is an extra bench-gram pass). Expected trade: the
  * bloom is a shuffle-volume lever for the beyond-broadcast regime, not
  * a small-scale speedup, which is why this query keeps the broadcast
  * hint as its default plan shape.
  *
  * Mechanics: the benchmark grams aggregate into a
  * `util.sketch.BloomFilter` (distributed build via `stat.bloomFilter`'s
  * per-partition OR-merge — insertion-order-free, so the sketch is
  * deterministic given the gram set); the ~120 KB sketch rides into the
  * scan as a binary literal probed by Spark's own codegen'd
  * [[BloomFilterMightContain]] — the same expression the engine's
  * runtime row-level filtering injects, so the probe stays inside
  * whole-stage codegen (no UDF, no boxing). The gram hashes are already
  * xxhash64 longs ([[graft.functions.ShingleOps]]), so the filter keys on
  * longs end to end.
  */
object BloomQueries {

  /** `might_contain(serializedBloom, longCol)` as a Column — Spark keeps
    * the expression out of the public FunctionRegistry (it is internal to
    * runtime filtering), so the bridge wraps it directly. */
  private def mightContain(bloomBytes: Array[Byte], v: Column): Column =
    bridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), bridge.expression(v)))

  // single source of truth for the twin-shape pieces every path below
  // shares with textDecontaminate — the gram rule, the benchmark split,
  // the sketch sizing, and the serialization must change in ONE place or
  // the bloom/stream/stats paths silently diverge from the oracle
  private def grams5(c: Column): Column =
    graft.functions.ShingleOps.ngram_hashes(split(c, " "), 5)

  private def benchGrams(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 10 === 0)
      .select(explode(grams5(col("text"))).as("gh")).distinct()

  private def probeGrams(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(grams5(col("text"))).as("gh"))

  /** Sketch capacity from a column-pruned UPPER BOUND (grams/doc <
    * words/doc < n_chars/2) instead of an exact gram count — the exact
    * count is a second full scan+explode+distinct of the benchmark side
    * (measured: ~⅓ of the bloom path's overhead at the 10× fixture),
    * while over-sizing only costs sketch bits (1% fp target ≈ 1.2 KB per
    * 1k capacity — a 3× over-estimate on a 1M-gram suite is < 4 MB). */
  private def capacityBound(d: DataFrame): Long = {
    val bound = d.filter(col("doc_id") % 10 === 0)
      .agg(coalesce(sum(col("n_chars")), lit(0L))).head.getLong(0)
    math.max(bound / 2, 1L)
  }

  private def sketchBytes(bench: DataFrame, capacity: Long): Array[Byte] = {
    // one distributed pass; per-partition filters OR-merge, so the bits
    // are insertion-order-free
    val bloom = bench.stat.bloomFilter(col("gh"), capacity, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** The decontamination relation: bloom prefilter, then an exact semi
    * join against the broadcast benchmark grams (the measured trade is
    * in the object doc above). */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val bench = benchGrams(d)
    val probe = probeGrams(d)
    // n_grams needs no join at all — count before any filtering
    val totals = probe.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // the bloom rejects ~99% of clean grams BEFORE the join; the exact
    // semi join then removes the false positives, so n_hit is exact
    val sieved = probe.filter(
      mightContain(sketchBytes(bench, capacityBound(d)), col("gh")))
    val hits = sieved.join(broadcast(bench), Seq("gh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    totals.join(hits, Seq("doc_id"), "left_outer")
      .na.fill(Map("n_hit" -> 0L))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 6)
          .as("overlap"))
      .withColumn("contaminated", col("overlap") >= 0.2)
      .orderBy(col("doc_id"))
  }

  /** Streaming (ingest-time) decontamination — the shape a production
    * crawl actually runs: the benchmark suite is SLOWLY-CHANGING (its
    * gram relation and bloom sketch are built once and reused for the
    * stream's lifetime), while training documents arrive in batches and
    * each batch is sieved map-side by the sketch at scan time, with only
    * bloom survivors entering the exact verify join. Decontamination is
    * stateless per document, so unlike [[StreamingDedupQueries]] there
    * is no accumulated store — per-batch work is proportional to the
    * BATCH, the historical corpus is never touched, and the result is
    * batch-by-batch identical to the batch query on the same rows:
    * the oracle is the literally-same SQL as `text_decontaminate`.
    *
    * Determinism: id-ranged batches staged with pinned mtimes,
    * `maxFilesPerTrigger=1`, `Trigger.AvailableNow` (the
    * [[graft.streaming.StreamingQueries.stageBatches]] replay
    * contract); the bench grams are materialized once to a staging
    * parquet so the per-batch verify join re-reads a pruned scan
    * instead of re-deriving the explode+distinct. */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{pathTag, runBatches,
      scratchDir, stageThirds}
    val d = Tables(s, dir, "documents")
    val bench = benchGrams(d)

    val base = scratchDir("graft_stream_decon", dir)
    val benchDir = s"$base/bench"
    val outDir = s"$base/result"

    // the slowly-changing side: one gram materialization + one sketch
    // build for the whole stream (the sketch builds off the materialized
    // store so the stream's bench relation derives exactly once)
    bench.write.mode("overwrite").parquet(benchDir)
    val bloomBytes =
      sketchBytes(s.read.parquet(benchDir), capacityBound(d))

    val probeDocs = d.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
    val staging = stageThirds(
      "graft_stream_decon_stage_" + pathTag(dir), probeDocs, "doc_id")

    runBatches(s, probeDocs.schema, staging) { batch =>
      val ss = batch.sparkSession
      val grams = batch
        .select(col("doc_id"), explode(grams5(col("text"))).as("gh"))
      val totals = grams.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
      val hits = grams.filter(mightContain(bloomBytes, col("gh")))
        .join(broadcast(ss.read.parquet(benchDir)), Seq("gh"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      totals.join(hits, Seq("doc_id"), "left_outer")
        .na.fill(Map("n_hit" -> 0L))
        .select(col("doc_id"), col("n_grams"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_grams"), 6)
            .as("overlap"))
        .withColumn("contaminated", col("overlap") >= 0.2)
        .write.mode("append").parquet(outDir)
    }
    s.read.parquet(outDir).orderBy(col("doc_id"))
  }

  /** Candidate-volume relation for the spec: how much the bloom actually
    * rejects (grams in, bloom-positives out, true hits) — the prefilter's
    * working ratio, measured not argued. */
  private[operators] def bloomStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    val bench = benchGrams(d)
    val bloomBytes = sketchBytes(bench, capacityBound(d))
    probeGrams(d)
      .withColumn("bloom_pos", mightContain(bloomBytes, col("gh")))
      .join(broadcast(bench.withColumn("true_hit", lit(true))),
        Seq("gh"), "left_outer")
      .na.fill(Map("true_hit" -> false))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("bloom_pos"), 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("true_hit"), 1L).otherwise(0L)).as("n_true_hit"),
        sum(when(col("true_hit") && !col("bloom_pos"), 1L).otherwise(0L))
          .as("n_false_neg"))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("bloom_decontaminate", bloomDecontaminate _,
        Some(TextQueries.textDecontaminateSql)),
      ("stream_decontaminate", streamDecontaminate _,
        Some(TextQueries.textDecontaminateSql)))
}
