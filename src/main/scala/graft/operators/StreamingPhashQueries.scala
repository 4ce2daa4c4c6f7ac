package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental Hamming-space image dedup — the continuously-running form
  * of [[MultimodalQueries.dedupImagePhash]] (48-bit perceptual-hash
  * near-dup clustering), maintained as media ARRIVES: per trigger the
  * batch is hashed once, appended to a fingerprint store, probed against
  * the accumulated store for hamming ≤ 3 mates, and the contracted
  * component mapping advanced — the [[StreamingComponentsQueries]]
  * state discipline applied to the multimodal fingerprint grain.
  *
  * Unlike the MinHash-banded text stream, this twin is EXACTLY equal to
  * its batch oracle, no probabilistic waiver: the pigeonhole 4×12-bit
  * banding is a PROVABLE superset of the hamming ≤ 3 radius (distance
  * ≤ 3 over 4 blocks forces one identical block), and the in-map
  * `bit_count(xor) ≤ 3` verification is exact — so the per-trigger pair
  * discovery finds precisely the batch↔store ∪ within-batch edges of
  * the exhaustive sweep, and CC over contraction preserves components
  * ([[StreamingComponentsQueries.advanceMapping]]'s homomorphism
  * identity). The stream hash-oracles against the literally-same
  * recursive-CTE SQL as `dedup_image_phash`.
  *
  * Per-trigger cost shape: hashing is one narrow compiled map over the
  * batch ([[MultimodalQueries.phashOf]] — the shared kernel); the store
  * holds ONE 16-byte (doc_id, phash) row per media item and is SCANNED
  * (never shuffled, never broadcast) against the batch's broadcast
  * 4-rows-per-doc block relation, with the hamming verify INSIDE the
  * map stage — only verified edges ever shuffle (distinct). The mapping
  * passes are inherently ∝ history (the mapping IS the state); all
  * broadcasts are ∝ batch. At 100 TB the store scan prunes by
  * partitioning on the 12-bit block value, the broadcast probe side
  * driving dynamic partition pruning to the batch's buckets.
  *
  * Staging models the production arrival order: originals land first
  * (two id-range batches), the re-encoded copies arrive LAST — so the
  * final trigger's pairs are all new-against-historical-store
  * discoveries, the case a from-scratch recompute pays the full corpus
  * for and this operator pays one batch probe for.
  *
  * Determinism: the house replay harness (staged single-file batches,
  * `Trigger.AvailableNow`, batchId-keyed store subdirs); the mapping is
  * derived state carried in memory across triggers (r17), under
  * [[graft.streaming.StreamingQueries.CarriedState]]'s durability
  * contract. Reference analogue: the curation jobs the engine extends
  * beyond `old/mwas_rfam.py`'s batch-only posture. */
object StreamingPhashQueries {

  def streamPhashDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{BatchStore, CarriedState,
      idRange, pathTag, releaseCheckpoint, runBatchesWithId, scratchDir,
      stageBatches}
    val d = MultimodalQueries.phashCorpusDocs(s, dir)
    // split the ORIGINALS by id-range halves; the re-encode arm
    // (doc_id ≥ 1,000,000 by construction) arrives as the third batch
    val base = d.filter(col("doc_id") < 1000000L)
    val (idMin, idMax) = idRange(base, "doc_id")
      .getOrElse(throw new IllegalArgumentException(
        "empty input relation: nothing to stream"))
    val b1 = idMin + (idMax - idMin) / 2
    val staging = stageBatches("graft_stream_ph_stage_" + pathTag(dir),
      Seq(base.filter(col("doc_id") <= b1),
        base.filter(col("doc_id") > b1),
        d.filter(col("doc_id") >= 1000000L)))

    val sigStore = BatchStore(s"${scratchDir("graft_stream_ph", dir)}/sig")
    val mapping = new CarriedState

    runBatchesWithId(s, d.schema, staging) { (batch0, bid) =>
      val ss = batch0.sparkSession
      // WIDTH PIN (the jaccardJoin/mwas-memo precedent): the staged
      // batch is one small file, and everything downstream of it is
      // NARROW — without the pin the hashing kernel AND the store
      // probe's candidate expansion (the per-trigger CPU, quadratic in
      // bucket occupancy once the 12-bit blocks saturate) run at
      // file-count parallelism, 1-3 tasks. The explicit repartition
      // (never AQE-coalesced) spreads the batch once, and the store
      // subdir inherits the width, so every later trigger's store scan
      // is parallel too. Shuffled bytes ∝ batch. Measured at 100×
      // docs: 161 → 45 s (the residual vs the batch arm's 16 s is the
      // inherent Σ_t store_t×batch_t probe mass plus per-trigger CC).
      val batch = batch0.repartition(ss.sparkContext.defaultParallelism)
      // hash the new media once, IN MEMORY (r17, VERDICT r16 item 4):
      // the store write reads the checkpointed rows and the probe
      // reuses the same relation — the per-trigger parquet read-back of
      // the batch's own subdir is gone; the durable batchId-keyed store
      // write stays (replay-idempotent). Append-first semantics
      // unchanged: store = prior subdirs from disk + this batch in
      // memory, so within-batch pairs discover in the same trigger.
      val bsig = MultimodalQueries.phashOf(batch).localCheckpoint(true)
      sigStore.write(bsig, bid)
      val store = sigStore.prior(ss, bid).fold(bsig)(_.unionByName(bsig))
      // probe: store scan exploded to block buckets map-side vs the
      // batch's BROADCAST block relation (4 rows/doc, phash riding);
      // exact hamming verify inside the map stage, only verified edges
      // shuffle. Materialized once — advanceMapping reads it 3×.
      val newPairs = MultimodalQueries
        .phashBlocks(store, "doc_a", "ha")
        .join(broadcast(
          MultimodalQueries.phashBlocks(bsig, "doc_b", "hb")),
          Seq("blk", "bv"))
        .filter(col("doc_a") =!= col("doc_b") &&
          bit_count(col("ha").bitwiseXOR(col("hb"))) <= 3)
        .select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .distinct()
        .localCheckpoint(true)
      StreamingComponentsQueries.advanceCarried(mapping, newPairs)
      Seq(bsig, newPairs).foreach(releaseCheckpoint)
    }

    // readout = the batch query's tail over the ACCUMULATED fingerprint
    // store + final mapping (the corpus is never re-hashed) — same SQL
    // oracle as dedup_image_phash; the mapping re-bases onto the outer
    // session via its checkpointed rows
    val comp = mapping.on(s)
      .select(col("u").as("doc_id"), col("v").as("component"))
    sigStore.readAll(s)
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("keep", col("doc_id") === col("component"))
      .select(col("doc_id"), col("phash"), col("component"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // No probabilistic waiver here (contrast the stream_components
  // registration): pigeonhole banding is LOSSLESS for hamming ≤ 3, so
  // this row is deterministically equal to its oracle — a hash fail IS
  // a code bug.
  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_phash_dedup", streamPhashDedup _,
      Some(MultimodalQueries.dedupImagePhashSql)))
}
