package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantics gate for margin-based bitext mining: the hash oracle
  * proves Spark and DuckDB agree; THIS proves the agreed relation is
  * actually Artetxe–Schwenk ratio margin — an independent plain-Scala
  * replay (BigDecimal for the round-6 cosines and neighborhood sums,
  * the same cross-multiplied margin) must match every row. A hub
  * vector's deflated margin, a wrong rank direction, or a k-window
  * off-by-one all fail exactly. */
class BitextMarginSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("bitext-margin-spec")
    .getOrCreate()

  test("engine relation == in-memory margin replay") {
    import org.apache.spark.sql.functions._
    val rows = graft.core.Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val aSide = rows.filter(_._2 < 5)
    val bSide = rows.filter(_._2 >= 5)
    def cos6(x: Array[Double], y: Array[Double]): BigDecimal = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < x.length) {
        dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(nx) * math.sqrt(ny)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    // all pair cosines at the exact round-6 decimal grain
    val cosMap = (for { (ai, _, av) <- aSide; (bi, _, bv) <- bSide }
      yield (ai, bi) -> cos6(av, bv)).toMap
    val k = 4
    def topK(neigh: Seq[(Long, BigDecimal)]): Seq[(Long, BigDecimal)] =
      neigh.sortBy { case (id, c) => (-c, id) }.take(k)
    val fwd = aSide.map { case (ai, _, _) =>
      ai -> topK(bSide.map { case (bi, _, _) => bi -> cosMap((ai, bi)) }.toSeq)
    }.toMap
    val bwd = bSide.map { case (bi, _, _) =>
      bi -> topK(aSide.map { case (ai, _, _) => ai -> cosMap((ai, bi)) }.toSeq)
    }.toMap

    val expected = aSide.map { case (ai, _, _) =>
      val (bi, c1) = fwd(ai).head
      val (sf, nf) = (fwd(ai).map(_._2).sum, fwd(ai).size)
      val (sb, nb) = (bwd(bi).map(_._2).sum, bwd(bi).size)
      val margin = BigDecimal(
        c1.toDouble * (2L * nf * nb).toDouble / (sf * nb + sb * nf).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      ai -> ((bi, c1.toDouble, margin, margin >= 1.05))
    }.toMap

    val got = EmbeddingQueries.bitextMarginMine(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet == expected.keySet)
    val bad = got.filter { case (id, v) => expected(id) != v }
    assert(bad.isEmpty, s"${bad.size} rows differ; first: ${bad.headOption}"
      + s" expected ${bad.headOption.map(b => expected(b._1))}")
    // the margin does real discrimination on this fixture: not all
    // accepted, not all rejected
    val acc = got.values.count(_._4)
    assert(acc > 0 && acc < got.size,
      s"degenerate acceptance: $acc of ${got.size}")
  }

  test("streaming twin == batch relation, bit for bit") {
    // the merge identities (append-only bwd store; fwd heap remnant
    // top-k(remnant ∪ batch) == global top-k on the decimal grid) must
    // reproduce the batch neighborhoods exactly after the last trigger
    val batch = EmbeddingQueries.bitextMarginMine(spark, dir)
      .collect().map(_.toString).sorted
    val (out, stray) = BoundedState.stray(spark)(
      EmbeddingQueries.streamBitextMine(spark, dir))
    // the readout is parquet: no heap remnant or static side stays resident
    assert(stray.isEmpty, s"stream left unread persistent RDDs $stray")
    val stream = out.collect().map(_.toString).sorted
    assert(stream.length == batch.length)
    assert(stream.sameElements(batch))
  }
}
