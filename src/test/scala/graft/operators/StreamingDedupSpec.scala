package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantics contract for the incremental MinHash dedup: verdicts are
  * batch-order independent (dup_of is always the MINIMUM matching id),
  * the probe reaches ACROSS batches (a batch-3 arrival matching a
  * batch-1 doc is flagged against it), and shingle-less docs (< 3
  * words) are never duplicates. Value-level agreement with the batch
  * formulation is the DuckDB oracle's job.
  */
class StreamingDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("streaming-dedup-spec")
    .getOrCreate()

  private val text =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"

  test("cross-batch + within-batch matches resolve to the minimum id; " +
      "shingle-less docs never flag") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("streaming_dedup_spec").toString
    graft.core.TempDirs.cleanOnExit(java.nio.file.Paths.get(dir))
    // id thirds: batch1 = {1,2,3}, batch2 = {4,5,6}, batch3 = {7,8,9}
    Seq(
      (1L, "s1", text),          // original
      (3L, "s1", text),          // within-batch-1 duplicate of 1
      (5L, "s1", "too short"),   // < 3 words: no shingles, never a dup
      (9L, "s1", text)           // batch-3 duplicate of a batch-1 doc
    ).toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    val (df, stray) = BoundedState.stray(spark)(
      StreamingDedupQueries.streamMinhashDedup(spark, dir))
    // the readout is parquet: no per-trigger checkpoint stays resident
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val out = df
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getBoolean(2))).toSeq
    assert(out == Seq(
      (1L, None, false),
      (3L, Some(1L), true),      // within batch 1
      (5L, None, false),         // shingle-less
      (9L, Some(1L), true)))     // cross-batch, min id (1, not 3)
  }
}
