package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental vector-index maintenance — the streaming form of the PQ
  * index lifecycle ([[IvfQueries.annIndexSearch]]): the codebook is
  * trained ONCE when its sample arrives, and every subsequent trigger
  * encodes just the ARRIVING vectors (8 code bytes each) into an
  * append-only code store; search reads strictly from the accumulated
  * store. This is how a production vector index actually lives — the
  * corpus is never re-encoded when new embeddings land, and a search
  * never rescans the float corpus.
  *
  * Exactness: PQ encoding is PER-VECTOR independent given a frozen
  * codebook (argmin over 16 codewords per subspace), and the codebook
  * here is the same deterministic data-sample the batch arm freezes
  * (the first [[IvfQueries.pqK]] vectors, which id-range staging puts
  * in the first batch), so the accumulated store is row-identical to
  * the batch encode and the stream shares `ann_pq_adc`'s oracle
  * verbatim — no waiver; like `ann_index_search` this also
  * oracle-checks the store round-trip itself.
  *
  * Per-trigger cost shape: one narrow subspace explode over the batch
  * (8 rows/vector), one broadcast of the 128-row codebook into the
  * map-side argmin, one append write of 8 codes/vector. Nothing scans
  * history at maintenance time — unlike the dedup streams there is no
  * probe; vectors don't interact until search. The readout's ADC join
  * broadcasts only the M×K-row query distance table against the code
  * store scan.
  *
  * Determinism: staged single-file batches, `maxFilesPerTrigger=1`,
  * `Trigger.AvailableNow`; codebook and per-batch code writes are
  * keyed + overwrite (replay-idempotent). */
object StreamingAnnIndexQueries {

  def streamAnnIndex(s: SparkSession, dir: String): DataFrame = {
    val d = graft.core.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val staging = graft.streaming.StreamingQueries.stageThirds(
      "graft_stream_pqidx_stage_" +
        graft.streaming.StreamingQueries.pathTag(dir),
      d, "vec_id")

    val base = graft.streaming.StreamingQueries.scratchDir(
      "graft_stream_pqidx", dir)
    val cbDir = s"$base/codebook"
    val codes = graft.streaming.StreamingQueries.BatchStore(s"$base/codes")

    graft.streaming.StreamingQueries.runBatchesWithId(s, d.schema,
        staging) { (batch, bid) =>
      val ss = batch.sparkSession
      val sub = IvfQueries.pqSubOf(batch)
      // codebook training fires exactly when its deterministic sample
      // (vec_id < pqK) arrives — the first trigger under id-range
      // staging; the write is idempotent (same rows on any replay)
      val cb = IvfQueries.pqCw(sub)
      if (!cb.isEmpty) cb.write.mode("overwrite").parquet(cbDir)
      // encode ONLY the arriving vectors against the frozen codebook —
      // pqEncode broadcasts the 128-row cw side into a map-side argmin
      codes.write(IvfQueries.pqEncode(sub, ss.read.parquet(cbDir)), bid)
    }

    // search strictly from the accumulated index — the same ADC tail
    // (and so the same oracle) as ann_pq_adc / ann_index_search
    IvfQueries.pqSearch(s, dir, codes.readAll(s))
  }

  // No waiver: per-vector encoding under the frozen codebook makes the
  // accumulated store row-identical to the batch encode — a hash fail
  // on this row IS a code bug.
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_ann_index", streamAnnIndex _,
      Some(IvfQueries.annPqAdcSql)))
}
