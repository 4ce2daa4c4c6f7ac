package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-CC twin's contract: the contracted-mapping state
  * re-contracted with each trigger's newly-discovered pairs must land
  * on EXACTLY the batch clustering — bit-identical rows, because both
  * the pair relation (shared jaccardJoin) and the contraction (shared
  * star rounds) are the same code, and the contraction-homomorphism
  * identity CC(contract(G) ∪ E') = CC(G ∪ E') says staging order
  * cannot matter. A second gate pins that the final mapping state is
  * one row per NON-SINGLETON vertex (the state-size claim), by
  * construction of the converged star relation. The stream also leaves
  * no superseded mapping or per-trigger checkpoint resident. */
class StreamingComponentsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("streaming-cc-spec")
    .getOrCreate()

  test("banded probe discipline: signatures deterministic, J=1 twins " +
      "always bucket together, verified edges refine the batch pairs") {
    import org.apache.spark.sql.functions._
    val docs = DedupQueries.docs(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val sig1 = StreamingComponentsQueries.signatureRows(docs)
    val sig2 = StreamingComponentsQueries.signatureRows(docs)
    // determinism: same input → bit-identical band arrays (replay safety)
    assert(sig1.select(col("doc_id"), col("bands"))
      .except(sig2.select(col("doc_id"), col("bands"))).isEmpty)
    assert(sig1.select(size(col("bands"))).distinct().collect()
      .map(_.getInt(0)).sameElements(Array(32)))
    // identical word sets (J = 1) carry identical band arrays, so an
    // exact-duplicate pair can NEVER be missed by the banding
    val twins = sig1.as("a").join(sig1.as("b"),
      col("a.source") === col("b.source") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.wh") === col("b.wh"))
    assert(twins.filter(col("a.bands") =!= col("b.bands")).isEmpty)
    // probePairs over (store = whole corpus, probe = whole corpus) must
    // land exactly on the batch pair relation, unordered — banding plus
    // exact verify is a refinement proof at this fixture
    val streamed = StreamingComponentsQueries
      .probePairs(sig1, sig1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs = DedupQueries.dedupJaccardPairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchPairs,
      s"banded∖batch=${(streamed -- batchPairs).take(5)} " +
        s"batch∖banded=${(batchPairs -- streamed).take(5)}")
    assert(batchPairs.nonEmpty)
  }

  test("streamed components are bit-identical to the batch clustering") {
    val batch = DedupQueries.dedupComponents(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val (out, stray) = BoundedState.stray(spark)(
      StreamingComponentsQueries.streamComponents(spark, dir))
    // only the final mapping, which the readout reads, may stay resident
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val stream = out
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(stream.length == batch.length)
    assert(stream.sortBy(_._1).sameElements(batch.sortBy(_._1)),
      "stream clustering differs from batch")
    // non-vacuity: the fixture has real near-dup structure
    assert(batch.count(!_._3) > 0)
  }
}
