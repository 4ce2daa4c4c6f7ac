package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental heavy hitters — the count–min sketch run the way it is
  * actually deployed: per arriving batch, compute that batch's token
  * partials ONCE, fold them into the accumulated sketch, and never touch
  * historical raw data again. The CMS is the canonical mergeable sketch —
  * every counter is a sum, so "merge" is literally `sum` over per-batch
  * partial grids, and the accumulated state is a FIXED d×w array no
  * matter how many terabytes have streamed through. The exact per-token
  * partial store rides along as the verification arm (vocabulary-sized;
  * at production scale it is replaced by a per-partition Misra–Gries
  * candidate pass and only the sketch remains — that substitution is the
  * entire point of the sketch).
  *
  * Lives in `graft.operators` to share [[SketchQueries]]'s
  * package-private pieces: per-batch partials are
  * [[SketchQueries.tokenCounts]]/[[SketchQueries.counterGrid]] over one
  * batch, and the final relation is assembled by the SAME
  * [[SketchQueries.estimates]] code path the batch query ends in — which
  * is why the stream hash-oracles against the literally-same SQL
  * ([[SketchQueries.heavyHittersSql]]): sums of per-batch sums equal the
  * one-shot sums, bit-for-bit, because the counters are integers.
  *
  * Determinism: batches staged as single files with pinned ascending
  * mtimes, `maxFilesPerTrigger=1`, `Trigger.AvailableNow` — the house
  * deterministic-replay harness ([[StreamingDedupQueries]]).
  */
object StreamingSketchQueries {

  def streamHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.StreamingQueries.{pathTag, releaseCheckpoint,
      runBatches, scratchDir, stageThirds}
    val d = DedupQueries.docs(s, dir).select(col("doc_id"), col("text"))
    val staging = stageThirds(
      "graft_stream_cms_stage_" + pathTag(dir), d, "doc_id")

    val base = scratchDir("graft_stream_cms", dir)
    val countsDir = s"$base/counts"
    val gridDir = s"$base/grid"

    runBatches(s, d.schema, staging) { batch =>
      // one pass over the batch: token partials, then the partial grid
      // FROM the partials (linearity — the raw batch feeds nothing twice)
      val part = SketchQueries.tokenCounts(batch).localCheckpoint(true)
      part.write.mode("append").parquet(countsDir)
      SketchQueries.counterGrid(part).write.mode("append").parquet(gridDir)
      releaseCheckpoint(part)
    }

    // merge = sum of partials on both stores (integer, order-free), then
    // the SAME assembly code path as the batch query
    val ss = s
    val counts = ss.read.parquet(countsDir)
      .groupBy(col("token")).agg(sum(col("exact_cnt")).as("exact_cnt"))
    val grid = ss.read.parquet(gridDir)
      .groupBy(col("seed"), col("bucket")).agg(sum(col("c")).as("c"))
    SketchQueries.estimates(counts, grid)
  }

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(("stream_heavy_hitters", streamHeavyHitters _,
      Some(SketchQueries.heavyHittersSql)))
}
