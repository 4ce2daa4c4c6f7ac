package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental fused curation — the flagship end-to-end pipeline
  * ([[DedupQueries.corpusPipelineE2e]]: quality floor → exact dedup →
  * near-dup contraction → Hamilton split → shard pack) maintained as
  * documents ARRIVE, instead of recomputed from scratch. This is the
  * "one job real users run" in its continuously-running form: per
  * trigger the work is batch-scoped (score, dedup, signature, probe);
  * the training-ready manifest is read out over the accumulated
  * survivor state.
  *
  * Stage-by-stage incrementality, each exact:
  *
  *   1. QUALITY is a pure per-doc function
  *      ([[TextQueries.qualityScoreOf]]) — one narrow pass per batch.
  *   2. EXACT DEDUP keeps min doc_id per md5(text). Batches are staged
  *      in doc_id ORDER (id-range stripes, the [[StreamingComponentsQueries]]
  *      pattern), so an accepted hash can never be displaced by a later
  *      arrival — survivorship is append-only, no retraction state.
  *      The accumulated hash store is SCANNED, never shuffled or
  *      broadcast: the store scan inner-joins the broadcast batch
  *      hashes (∝ batch) to extract the already-seen subset, and the
  *      batch anti-joins against that small relation (the
  *      advanceMapping lookup discipline).
  *   3. NEAR-DUP CC over the exact-dedup survivors reuses the banded
  *      signature store + map-side probe + contracted-mapping advance
  *      verbatim ([[StreamingComponentsQueries.signatureRows]]/
  *      [[StreamingComponentsQueries.probePairs]]/
  *      [[StreamingComponentsQueries.advanceMapping]]) — additions only
  *      ever merge components, and component-min ids are stable under
  *      merges, so the final mapping equals the batch run's.
  *   4. The READOUT replays the literally-same split/pack tail as the
  *      batch pipeline ([[DedupQueries.manifestTail]]) over the
  *      accumulated survivor store + final mapping, so the stream
  *      hash-oracles against the SAME SQL as `corpus_pipeline_e2e`
  *      (incl. its band-miss waiver, recorded at the registrations).
  *
  * Determinism: staged single-file batches, `maxFilesPerTrigger=1`,
  * `Trigger.AvailableNow`; every store write is batchId-keyed with
  * overwrite (replay-idempotent). */
object StreamingCurationQueries {

  def streamCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{BatchStore, CarriedState,
      pathTag, releaseCheckpoint, runBatchesWithId, scratchDir, stageThirds}
    val d = DedupQueries.docs(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val staging = stageThirds(
      "graft_stream_cur_stage_" + pathTag(dir), d, "doc_id")

    val base = scratchDir("graft_stream_cur", dir)
    val survStore = BatchStore(s"$base/surv")
    val sigStore = BatchStore(s"$base/sig")
    val mapping = new CarriedState

    runBatchesWithId(s, d.schema, staging) { (batch0, bid) =>
      val ss = batch0.sparkSession
      // WIDTH PIN (the stream_components / stream_phash_dedup
      // precedent): the staged batch is one file, and the survivor
      // relation reaches the signature store through broadcast
      // semi/anti joins that never shuffle the preserved side — so
      // without the pin the quality pass, the signature map, AND every
      // later trigger's store-probe CPU run at file-count parallelism.
      // Shuffled bytes ∝ batch; the store layout inherits the width.
      // Measured at 100× docs: 84 → 30 s.
      val batch = batch0.repartition(ss.sparkContext.defaultParallelism)
      // stage 1: quality floor, batch-scoped
      val bq = batch
        .join(TextQueries.qualityScoreOf(batch), Seq("doc_id"))
        .filter(col("quality") >= 0.35)
        .select(col("doc_id"), col("source"), col("text"), col("quality"))
      // stage 2: exact dedup. Within-batch min per hash first, then
      // drop hashes already accepted by an earlier trigger — extracted
      // from the store via its scan against the BROADCAST batch hashes
      // (∝ batch), never a store-wide shuffle or broadcast.
      val bh = bq.withColumn("h", md5(col("text")))
      val keep = bh.join(
        bh.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id")),
        Seq("h", "doc_id"), "left_semi")
      // read the store EXCLUDING this batch's own subdir: a REPLAYED
      // trigger would otherwise anti-join the batch against its own
      // prior write and drop every survivor — subdir exclusion keeps
      // the whole trigger idempotent, matching the overwrite-keyed
      // writes below. The hash store IS the survivor store (r16 write
      // fusion): h rides as a column of the one survivor write and the
      // lookup's store scan selects it alone — parquet column pruning
      // keeps the probe IO at the old dedicated-file width while one
      // whole write pass per trigger disappears.
      val sb0 = survStore.prior(ss, bid).fold(keep) { prior =>
        val matched = prior.select(col("h"))
          .join(broadcast(keep.select(col("h")).distinct()), Seq("h"))
        keep.join(broadcast(matched), Seq("h"), "left_anti")
      }
      // materialize the batch survivors once (∝ batch, consumed by the
      // hash/survivor/signature writes below). RE-pin the width first:
      // AQE byte-coalesces the quality join's post-shuffle partitions
      // to ~1 at small batch sizes (the mwas-memo class), and the
      // localCheckpoint would FREEZE that into every store subdir —
      // a user repartition is never coalesced, and the survivor
      // shuffle is ∝ batch (StreamWidthPinSpec gates the store layout)
      val sb = sb0.repartition(ss.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      survStore.write(sb.select(col("doc_id"), col("source"), col("text"),
          col("quality"), col("h")), bid)
      // stage 3: banded CC over survivors — the StreamingComponents
      // machinery verbatim (append-first so within-batch pairs discover
      // in the same trigger)
      // signature the survivors once, IN MEMORY (r17, VERDICT r16 item
      // 4): the store write reads the checkpointed rows and the probe
      // reuses the same relation — the per-trigger parquet read-back of
      // the batch's own subdir is gone; the durable batchId-keyed store
      // write stays. Store = prior subdirs from disk + this batch in
      // memory (append-first semantics unchanged).
      val bsig = StreamingComponentsQueries.signatureRows(
          sb.select(col("doc_id"), col("source"), col("text")))
        .localCheckpoint(true)
      sigStore.write(bsig, bid)
      val store = sigStore.prior(ss, bid).fold(bsig)(_.unionByName(bsig))
      val newPairs = StreamingComponentsQueries.probePairs(store, bsig)
        .localCheckpoint(true)
      StreamingComponentsQueries.advanceCarried(mapping, newPairs)
      Seq(sb, bsig, newPairs).foreach(releaseCheckpoint)
    }

    // stage 4: the batch pipeline's readout over the accumulated state
    // (h is store plumbing, not part of the compared relation — project
    // it away before the shared tail)
    val surv = survStore.readAll(s)
      .select(col("doc_id"), col("source"), col("text"), col("quality"))
    val comp = mapping.on(s)
      .select(col("u").as("doc_id"), col("v").as("component"))
    val s3 = surv.join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .filter(col("component") === col("doc_id"))
    DedupQueries.manifestTail(s3)
  }

  // same probabilistic-equality waiver as corpus_pipeline_e2e — the
  // near-dup stage is banded while the oracle is the exact SQL
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_corpus_pipeline", streamCorpusPipeline _,
      Some(DedupQueries.corpusPipelineE2eSql)))
}
