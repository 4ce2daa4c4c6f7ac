package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property gate for the word-Jaccard pair relation: over random
  * corpora, `dedupJaccardPairs` must equal a plain-Scala brute force —
  * which pins the length-ratio prefilter's claimed result-neutrality
  * (J ≥ t ⟹ min/max ≥ t) on shapes the fixtures can't produce:
  * single-word docs, identical texts, docs whose sizes straddle the
  * ratio bound exactly, and sources with one doc. The DuckDB oracle
  * proves the same on corpus fixtures; this covers the adversarial
  * boundary cases. The 3-gram MinHash pair query runs through the same
  * banded core and is checked the same way at its own grain.
  */
class JaccardPropertySpec extends Properties("DedupJaccardPairs") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("jaccard-prop")
    .getOrCreate()

  private val vocab = Vector("ax", "bx", "cx", "dx", "ex", "fx", "gx",
    "hx", "ix", "jx")

  private val genDocs: Gen[Seq[(Long, String, String)]] = for {
    nDocs <- Gen.choose(3, 12)
    nSources <- Gen.choose(1, 2)
    docs <- Gen.sequence[Seq[(Long, String, String)], (Long, String, String)](
      (0 until nDocs).map { i =>
        for {
          src <- Gen.choose(1, nSources)
          nWords <- Gen.choose(1, 8)
          words <- Gen.listOfN(nWords, Gen.oneOf(vocab))
        } yield (i.toLong, s"s$src", words.mkString(" "))
      })
  } yield docs

  private def expected(docs: Seq[(Long, String, String)])
      : Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, src, text) =>
      (id, src, text.split(" ").filter(_.nonEmpty).toSet)
    }
    (for {
      a <- sets; b <- sets
      if a._2 == b._2 && a._1 < b._1
      inter = (a._3 & b._3).size
      if inter > 0
      j = inter.toDouble / (a._3.size + b._3.size - inter)
      if j >= 0.7
    } yield (a._1, b._1, j)).toSet
  }

  property("pair relation equals the plain-Scala brute force") =
    Prop.forAll(genDocs) { docs =>
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("jaccard_prop").toString
      graft.core.TempDirs.cleanOnExit(java.nio.file.Paths.get(dir))
      docs.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = DedupQueries.dedupJaccardPairs(spark, dir)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exp = expected(docs)
      if (got != exp) println(s"docs=$docs\ngot=$got\nexp=$exp")
      got == exp
    }

  /** The banded candidate arm (the edges-only family's default since
    * r16) must produce the SAME pair set on the same adversarial
    * shapes — single-word docs, twins, ratio-straddling sizes. A
    * band-miss here is ≤ 4.4e-10 per qualifying pair (the recorded
    * waiver), i.e. never over this test's lifetime; a failure means
    * band-count/seed/threshold drift between the arms, and the printed
    * diff separates missed-candidate from verify-level divergence. */
  property("banded candidate edges equal the brute-force pair set") =
    Prop.forAll(genDocs) { docs =>
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("banded_prop").toString
      graft.core.TempDirs.cleanOnExit(java.nio.file.Paths.get(dir))
      docs.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = DedupQueries.bandedPairs(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = expected(docs).map(t => (t._1, t._2))
      if (got != exp) println(s"docs=$docs\nbanded=$got\nexp=$exp")
      got == exp
    }

  /** Corpora for the 3-gram grain: each doc is fresh, an exact twin of
    * an earlier doc, or an earlier doc plus one word (a near-dup at
    * J = n/(n+1) over its n grams), so twin-heavy draws cross the 0.25
    * dup-mass gate and run the contracted arm while others stay on the
    * direct arm. Short docs (< 3 words, no shingles) occur too. */
  private val genShingleDocs: Gen[Seq[(Long, String, String)]] = for {
    nDocs <- Gen.choose(3, 14)
    specs <- Gen.listOfN(nDocs, for {
      kind <- Gen.frequency(2 -> 0, 2 -> 1, 1 -> 2)
      pick <- Gen.choose(0, 1000)
      nWords <- Gen.choose(1, 12)
      words <- Gen.listOfN(nWords, Gen.oneOf(vocab))
      extra <- Gen.oneOf(vocab)
      src <- Gen.choose(1, 2)
    } yield (kind, pick, words.mkString(" "), extra, src))
  } yield specs.zipWithIndex.foldLeft(Vector.empty[(Long, String, String)]) {
    case (acc, ((kind, pick, fresh, extra, src), i)) =>
      val text =
        if (acc.isEmpty || kind == 0) fresh
        else if (kind == 1) acc(pick % acc.size)._3
        else s"${acc(pick % acc.size)._3} $extra"
      acc :+ ((i.toLong, s"s$src", text))
  }

  private def gramSets(docs: Seq[(Long, String, String)])
      : Seq[(Long, Set[String])] =
    docs.map { case (id, _, text) =>
      (id, text.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet)
    }.filter(_._2.nonEmpty)

  property("3-gram MinHash pairs equal the brute force across sources") =
    Prop.forAll(genShingleDocs) { docs =>
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("minhash_prop").toString
      graft.core.TempDirs.cleanOnExit(java.nio.file.Paths.get(dir))
      docs.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = DedupQueries.dedupMinhashLsh(spark, dir)
        .select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val sets = gramSets(docs)
      val exp = (for {
        a <- sets; b <- sets
        if a._1 < b._1
        inter = (a._2 & b._2).size
        j = inter.toDouble / (a._2.size + b._2.size - inter)
        if j >= 0.7
      } yield (a._1, b._1, j)).toSet
      val dupMass =
        if (sets.isEmpty) 0.0
        else 1.0 - sets.map(_._2).distinct.size.toDouble / sets.size
      if (got != exp) println(s"docs=$docs\nminhash=$got\nexp=$exp")
      Prop.classify(dupMass >= DedupQueries.contractionDupMassGate,
        "contracted arm", "direct arm")(got == exp)
    }
}
