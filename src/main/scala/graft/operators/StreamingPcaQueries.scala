package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental PCA — the deterministic power-iteration fit
  * ([[EmbeddingQueries.embPcaPower]]) maintained over an arriving
  * embedding stream, the way a production corpus would keep its
  * projection model current without ever rescanning history.
  *
  * State class (new in the §2.9 maintenance taxonomy): MATRIX-VALUED
  * sufficient statistics. The centered covariance numerator factors over
  * the raw mergeable moments
  *
  *   C_jk = Σ_i (n·v_ij − S_j)(n·v_ik − S_k) = n²·M_jk − n·S_j·S_k
  *
  * with M_jk = Σ_i v_ij·v_ik, S_j = Σ_i v_ij, all on the exact int64
  * quantized grid — so the whole fit's data-sized pass reduces to
  * per-batch partial sums of a D×D moment matrix (4096 rows), a D-row
  * sum vector, and a count. Merge is integer addition (order-free by
  * construction, the same property that made the batch ladder
  * cross-engine deterministic), so sums of per-batch sums equal the
  * one-shot sums EXACTLY and the readout's covariance is bit-identical
  * to the batch fit's — which is why this stream hash-oracles against
  * the literally-same SQL ([[EmbeddingQueries.embPcaPowerSql]]).
  * Everything after the moments (covariance assembly, 8 iteration
  * rounds, loadings) is dimension-sized — O(D²) regardless of how many
  * terabytes have streamed through — and runs through the SAME
  * [[EmbeddingQueries.pcaIterate]]/[[EmbeddingQueries.pcaLoadings]]
  * code paths as the batch query.
  *
  * Precision bound (why the merge stays exact): |vq| ≤ ~10⁷ ⇒
  * n²·M ~ n³·10¹⁴ stays inside DECIMAL(38,0) to n ≈ 10⁸ vectors; past
  * that, shard the state by corpus partition and widen the readout's
  * intermediate, the moments themselves never outgrow D².
  *
  * Determinism: batches staged as single files with pinned ascending
  * mtimes, `maxFilesPerTrigger=1`, `Trigger.AvailableNow` — the house
  * deterministic-replay harness ([[StreamingDedupQueries]]).
  */
object StreamingPcaQueries {

  def streamPcaPower(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{BatchStore, pathTag,
      releaseCheckpoint, runBatchesWithId, scratchDir, stageThirds}
    val d = graft.core.Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val staging = stageThirds(
      "graft_stream_pca_stage_" + pathTag(dir), d, "vec_id")

    val base = scratchDir("graft_stream_pca", dir)
    val momentStore = BatchStore(s"$base/moments")
    val sumStore = BatchStore(s"$base/sums")

    runBatchesWithId(s, d.schema, staging) { (batch, bid) =>
      // one quantize pass per batch feeds both partials (each vector
      // lives wholly in its batch, so the moment self-join is batch-local).
      // EXPLICIT-width repartition on the join key before the checkpoint:
      // the staged batch is ONE file split, so without it the entire
      // 64×64 moment fan-out runs as a single task (the bitext
      // single-task-sweep lesson, NOTES_r14) — and the width must be
      // explicit because AQE sizes the 4096-row OUTPUT, not the fan-out.
      // Co-partitioning both self-join sides on vec_id also makes the
      // join exchange-free. Measured at the 10× fixture: 28.2 → 12.7 s.
      val bq = EmbeddingQueries.pcaQuantized(
        batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v")))
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .localCheckpoint(true)
      // batchId-keyed stores: sums of integers are not replay-invariant
      momentStore.write(bq.alias("a")
        .join(bq.alias("b"), col("a.vec_id") === col("b.vec_id"))
        .groupBy(col("a.j").as("j"), col("b.j").as("k"))
        // cast BEFORE the multiply — vq·vq fits int64 but the SUM does
        // not at scale (the batch fit's own ANSI-caught lesson)
        .agg(sum(col("a.vq").cast("decimal(38,0)") * col("b.vq")).as("m")),
        bid)
      sumStore.write(bq.groupBy(col("j"))
        .agg(sum(col("vq")).as("sj"), count(lit(1)).as("nb")), bid)
      releaseCheckpoint(bq)
    }

    // merge = integer sum over both stores, then the covariance identity
    // and the SAME iterate/loadings code path as the batch fit
    val m = momentStore.readAll(s)
      .groupBy(col("j"), col("k")).agg(sum(col("m")).as("m"))
    val sums = sumStore.readAll(s)
      .groupBy(col("j")).agg(sum(col("sj")).as("sj"), sum(col("nb")).as("nb"))
      .localCheckpoint(true) // scalar n + two broadcast sides below
    val n = sums.filter(col("j") === 0).head().getAs[Long]("nb")
    val scale = 1e12 * n.toDouble * n.toDouble * n.toDouble
    val cov = m
      .join(broadcast(sums.select(col("j"),
        col("sj").cast("decimal(38,0)").as("sjd"))), Seq("j"))
      .join(broadcast(sums.select(col("j").as("k"),
        col("sj").cast("decimal(38,0)").as("skd"))), Seq("k"))
      .select(col("j"), col("k"),
        // n²·M − n·S_j·S_k — exact decimal, equal to the batch fit's
        // centered sum addend-for-addend
        (col("m") * lit(n) * lit(n) - col("sjd") * col("skd") * lit(n))
          .as("cnum"))
      .select(col("j"), col("k"),
        round(col("cnum").cast("double") / lit(scale), 6)
          .cast("decimal(12,6)").as("cov"))
      .localCheckpoint() // read once per iteration round (batch-fit shape)
    EmbeddingQueries.pcaLoadings(cov, EmbeddingQueries.pcaIterate(s, cov))
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_pca_power", streamPcaPower _,
      Some(EmbeddingQueries.embPcaPowerSql)))
}
