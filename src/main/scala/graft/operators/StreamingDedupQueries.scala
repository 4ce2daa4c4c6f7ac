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
  * package-private signature store and probe of
  * [[StreamingComponentsQueries]] at the 3-gram grain
  * ([[DedupQueries.shingleSets]]): the signature
  * ([[DedupQueries.bandSignatures]]), length-ratio prefilter and exact
  * verification are the batch pair query's
  * ([[DedupQueries.bandedPairsJ]]).
  *
  * Why this exists next to `dedup_minhash_lsh` (the batch pair query)
  * and `stream_dedup` (exact-key streaming dedup): at 100 TB a corpus
  * is not re-paired from scratch per ingest — signatures are computed
  * once per NEW document and the probe's broadcast carries only the
  * batch's band rows, never the historical corpus. Total signature work
  * across the run equals the batch query's single pass.
  *
  * Determinism: the house replay harness
  * ([[graft.streaming.StreamingQueries]] — staged single-file batches,
  * `Trigger.AvailableNow`, batchId-keyed store subdirs with overwrite,
  * so a replayed trigger is idempotent); every value written to the
  * stores is a pure function of the input, and the final read sorts by
  * doc_id. The DuckDB oracle is the batch formulation: dup_of = min
  * verified smaller-id neighbor over the exhaustive 3-gram pair graph
  * (LSH-miss probability ≈ 6e-10 at J ≥ 0.7, the
  * [[DedupQueries.dedupMinhashLsh]] argument).
  */
object StreamingDedupQueries {

  def streamMinhashDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{BatchStore, pathTag,
      releaseCheckpoint, runBatchesWithId, scratchDir, stageThirds}
    val d = DedupQueries.docs(s, dir).select(col("doc_id"), col("text"))
    val staging = stageThirds(
      "graft_stream_mhdedup_stage_" + pathTag(dir), d, "doc_id")

    val base = scratchDir("graft_stream_mhdedup", dir)
    val sigStore = BatchStore(s"$base/sig")
    val verdicts = BatchStore(s"$base/result")

    runBatchesWithId(s, d.schema, staging) { (batch0, bid) =>
      val ss = batch0.sparkSession
      // WIDTH PIN (the stream_components precedent): the staged batch is
      // one file and the signature is a narrow map
      val batch = batch0.repartition(ss.sparkContext.defaultParallelism)
      // signature the NEW docs once, in memory: the store write and the
      // probe both read the checkpointed rows
      val bsig = DedupQueries.bandSignatures(DedupQueries.shingleSets(batch))
        .localCheckpoint(true)
      sigStore.write(bsig, bid)
      // append-first: the store covers this batch too, so within-batch
      // pairs (smaller id wins) fall out of the same probe
      val store = sigStore.prior(ss, bid).fold(bsig)(_.unionByName(bsig))
      // a verified pair (u, v) has u < v, so v is the batch doc: earlier
      // batches hold smaller ids
      val dupOf = StreamingComponentsQueries.probePairs(store, bsig)
        .groupBy(col("v")).agg(min(col("u")).as("dup_of"))
      // every batch doc gets a verdict row — shingle-less docs included
      verdicts.write(batch.select(col("doc_id"))
        .join(dupOf, col("doc_id") === col("v"), "left_outer")
        .select(col("doc_id"), col("dup_of")), bid)
      releaseCheckpoint(bsig)
    }
    verdicts.readAll(s)
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
