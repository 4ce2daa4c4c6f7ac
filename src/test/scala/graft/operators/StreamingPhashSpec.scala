package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the incremental hamming-space image dedup
  * (`stream_phash_dedup`):
  *
  *   1. STREAM == BATCH, row for row — pigeonhole banding is lossless
  *      at radius 3 and the mapping advance is a contraction
  *      homomorphism, so the incremental result must be EXACTLY the
  *      one-shot [[MultimodalQueries.dedupImagePhash]] (which is itself
  *      oracled against the exhaustive recursive-CTE sweep). No
  *      probabilistic waiver anywhere in this family.
  *   2. The staging really exercises cross-batch discovery: every
  *      planted re-encode twin arrives in the LAST trigger, after its
  *      original — so each planted cluster is necessarily a
  *      new-against-historical-store probe hit, not a within-batch
  *      pair.
  *   3. Bounded state: no superseded mapping or per-trigger checkpoint
  *      stays resident after the stream.
  */
class StreamingPhashSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("streaming-phash-spec")
    .getOrCreate()

  test("incremental phash dedup equals the one-shot batch run exactly; " +
      "re-encode twins resolve across triggers") {
    val (out, stray) = BoundedState.stray(spark)(
      StreamingPhashQueries.streamPhashDedup(spark, dir))
    // only the final mapping, which the readout reads, may stay resident
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val stream = out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val batch = MultimodalQueries.dedupImagePhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(stream.toSeq == batch.toSeq,
      "stream readout diverged from the batch clustering")

    // the interesting rows really are cross-trigger: re-encodes
    // (doc_id ≥ 1e6, staged in the final batch) must land in their
    // original's non-singleton component
    val comp = stream.map(t => t._1 -> t._3).toMap
    val planted = stream.filter(_._1 >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach { case (id, _, c, keep) =>
      assert(c == comp(id - 1000000L),
        s"re-encode $id not clustered with its pre-arrived original")
      assert(!keep || c == id, "keep flag must mark the component min")
    }
  }
}
