package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (streaming-ingest) near-dup detection — the
  * accumulate-and-probe pattern every production crawl pipeline runs:
  * each arriving batch is MinHash-signatured ONCE, appended to the
  * accumulated signature store, and probed against it; a document is a
  * duplicate iff some earlier document (smaller doc_id — batches are
  * id-ranged, so arrival order and id order agree) shares an LSH band
  * bucket and passes exact shingle-Jaccard ≥ 0.7. Lives in
  * `graft.operators` (not `graft.streaming`) to share the
  * package-private [[DedupQueries.shingleSets]]/[[DedupQueries.bandRelation]],
  * which makes the incremental bucket values bit-identical to the batch
  * pair query's.
  *
  * Why this exists next to `dedup_minhash_lsh` (the batch pair query)
  * and `stream_dedup` (exact-key streaming dedup): at 100 TB a corpus
  * is not re-paired from scratch per ingest — signatures are computed
  * once per NEW document and the probe join's shuffle carries only
  * (batch bands × matching accumulated buckets), never the historical
  * corpus. Total signature work across the run equals the batch query's
  * single pass; the per-batch probe is the standard sub-quadratic
  * bucket join with the build side pruned to bucket-mates.
  *
  * Determinism: batches staged as single files with pinned ascending
  * mtimes ([[graft.streaming.StreamingQueries.stageBatches]]),
  * `maxFilesPerTrigger=1`, `Trigger.AvailableNow` — deterministic
  * replay; every value written to the stores is a pure function of the
  * input, and the final read sorts by doc_id. The DuckDB oracle is the
  * batch formulation: dup_of = min verified smaller-id neighbor over
  * the exhaustive 3-gram pair graph (LSH-miss probability ≈ 6e-10 at
  * J ≥ 0.7, the [[DedupQueries.dedupMinhashLsh]] argument).
  */
object StreamingDedupQueries {

  def streamMinhashDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{pathTag, releaseCheckpoint,
      runBatches, scratchDir, stageThirds}
    val d = DedupQueries.docs(s, dir).select(col("doc_id"), col("text"))
    val staging = stageThirds(
      "graft_stream_mhdedup_stage_" + pathTag(dir), d, "doc_id")

    // accumulator stores (bands / shingles / per-doc verdicts)
    val base = scratchDir("graft_stream_mhdedup", dir)
    val bandsDir = s"$base/bands"
    val shDir = s"$base/shingles"
    val outDir = s"$base/result"

    runBatches(s, d.schema, staging) { batch =>
      val ss = batch.sparkSession
      // signature the NEW docs only, once; flatten lineage so the two
      // consumers below (store append + probe) don't recompute the aggs
      val sb = DedupQueries.shingleSets(batch).localCheckpoint(true)
      val bb = DedupQueries.bandRelation(sb).localCheckpoint(true)
      // append-first: the accumulated store then covers this batch too,
      // so within-batch pairs (smaller id wins) fall out of the same probe
      sb.write.mode("append").parquet(shDir)
      bb.write.mode("append").parquet(bandsDir)
      val accBands = ss.read.parquet(bandsDir)
      val cand = accBands.as("x").join(bb.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct()
      val verified = cand
        // array_compact restores containsNull=false after the parquet
        // round-trip (the store never holds null elements; the native
        // sorted_jaccard type-checks element nullability)
        .join(ss.read.parquet(shDir)
          .select(col("doc_id").as("doc_a"),
            array_compact(col("sh")).as("sha")), "doc_a")
        .join(sb.select(col("doc_id").as("doc_b"), col("sh").as("shb")),
          "doc_b")
        .filter(graft.functions.ShingleOps
          .sorted_jaccard(col("sha"), col("shb")) >= 0.7)
      // every batch doc gets a verdict row — shingle-less docs included
      batch.select(col("doc_id"))
        .join(verified.groupBy(col("doc_b"))
            .agg(min(col("doc_a")).as("dup_of")),
          col("doc_id") === col("doc_b"), "left_outer")
        .select(col("doc_id"), col("dup_of"))
        .write.mode("append").parquet(outDir)
      Seq(sb, bb).foreach(releaseCheckpoint)
    }
    s.read.parquet(outDir)
      .select(col("doc_id"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Batch formulation of the same verdict: min verified smaller-id
    * neighbor over the exhaustive shared-shingle pair graph. */
  val streamMinhashDedupSql: String =
    """WITH sh AS (
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
      |      / len(list_distinct(list_concat(x.s, y.s))) >= 0.7)
      |SELECT d.doc_id, min(v.doc_a) AS dup_of,
      |       min(v.doc_a) IS NOT NULL AS is_dup
      |FROM documents d LEFT JOIN verified v ON v.doc_b = d.doc_id
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_minhash_dedup", streamMinhashDedup _,
      Some(streamMinhashDedupSql)))
}
