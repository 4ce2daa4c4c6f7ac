package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the incremental fused curation pipeline
  * (`stream_corpus_pipeline`):
  *
  *   1. STREAM ≡ BATCH — the final manifest after all triggers is
  *      row-for-row identical to the one-shot batch pipeline
  *      ([[DedupQueries.corpusPipelineE2e]]); both also hash-oracle
  *      against the same SQL through Verify.
  *   2. Append-only exact dedup really is exact under id-ordered
  *      arrival: no surviving text hash appears twice in the output.
  *   3. Bounded state: no superseded mapping or per-trigger checkpoint
  *      stays resident after the stream.
  */
class StreamingCurationSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("stream-curation-spec")
    .getOrCreate()

  test("incremental manifest equals the batch pipeline's") {
    val (out, stray) = BoundedState.stray(spark)(
      StreamingCurationQueries.streamCorpusPipeline(spark, dir))
    // only the final mapping, which the readout reads, may stay resident
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val stream = out.collect().map(_.toSeq)
    val batch = DedupQueries
      .corpusPipelineE2e(spark, dir).collect().map(_.toSeq)
    assert(stream.nonEmpty)
    assert(stream.toSeq == batch.toSeq)
  }

  test("no surviving text hash appears twice") {
    import org.apache.spark.sql.functions._
    val out = StreamingCurationQueries.streamCorpusPipeline(spark, dir)
      .select(col("doc_id"))
    val texts = DedupQueries.docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val dupHashes = out.join(texts, Seq("doc_id"))
      .groupBy(col("h")).count().filter(col("count") > 1).count()
    assert(dupHashes == 0L)
  }
}
