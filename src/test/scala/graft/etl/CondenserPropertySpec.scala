package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based check of the condenser against an INDEPENDENT
  * plain-Scala reimplementation of the set-maker semantics (rules r2-r6,
  * main/metadata_set_maker.py:13-110) over randomly generated metadata
  * tables — the §5 test-strategy item (b).
  */
class CondenserPropertySpec extends Properties("MetadataCondenser") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("condenser-prop")
    .getOrCreate()

  /** Plain-Scala set-maker: the independent oracle. */
  private def expected(rows: Seq[(String, String, String, String)])
      : Set[(String, String, String, List[String], Boolean)] = {
    rows.groupBy(_._1).flatMap { case (bp, bpRows) =>
      val universe = bpRows.map(_._2).distinct.sorted
      val n = universe.size
      // a null-attribute cell counts its biosample into the universe only
      val byAttr = bpRows.filter(_._3 != null).groupBy(_._3)
      // an empty cell (null) and the pandas NA literals ('nan', 'NA',
      // 'None', …) are read-time missing values: excluded from nd (pandas
      // nunique semantics), exactly as in the condenser's r2
      val na = MetadataCondenser.PandasNaValues.toSet
      def missing(v: String) = v == null || na(v)
      val sets = byAttr.toSeq.flatMap { case (attr, aRows) =>
        val nd = aRows.map(_._4).filterNot(missing).distinct.size
        if (nd <= 1 || nd >= n) Nil // r2
        else aRows.filterNot(r => missing(r._4)) // r3
          .groupBy(_._4).toSeq.flatMap { case (value, vRows) =>
            val members = vRows.map(_._2).distinct.sorted
            if (members.size <= 1) Nil // r4
            else {
              val include = members.size < n / 2.0 // r5
              val stored =
                if (include) members else universe.diff(members)
              Seq(((stored, include), (attr, value)))
            }
          }
      }
      // r6: merge labels of identical (stored, include); r7: the
      // reference's delimiter guard replaces ';' with ':' in LABELS only
      // (metadata_set_maker.py:68-71) — grouping ran on original values
      sets.groupBy(_._1).map { case ((stored, include), pairs) =>
        val sorted = pairs
          .map(p => (p._2._1.replace(';', ':'), p._2._2.replace(';', ':')))
          .sorted
        (bp, sorted.map(_._1).mkString("; "),
          sorted.map(_._2).mkString("; "), stored.toList, include)
      }
    }.toSet
  }

  private val genRows: Gen[Seq[(String, String, String, String)]] = for {
    nBp <- Gen.choose(1, 2)
    rows <- Gen.sequence[Seq[Seq[(String, String, String, String)]],
      Seq[(String, String, String, String)]]((1 to nBp).map { bp =>
      for {
        nBs <- Gen.choose(2, 9)
        nAttr <- Gen.choose(1, 3)
        vals <- Gen.sequence[Seq[Seq[String]], Seq[String]](
          (1 to nAttr).map { _ =>
            // null: what an empty CSV cell melts to
            Gen.listOfN(nBs, Gen.oneOf("a", "b", "c", "nan", "None", "NA",
              "x;y", "x:y", null))
          })
        // biosamples seen only on a null-attribute row
        nNullAttr <- Gen.choose(0, 3)
      } yield (for {
        (attrVals, ai) <- vals.zipWithIndex
        (v, bi) <- attrVals.zipWithIndex
      } yield (s"bp$bp", s"bs$bi", s"attr$ai", v)) ++
        (nBs until nBs + nNullAttr).map(bi =>
          (s"bp$bp", s"bs$bi", null: String, "q"))
    })
    // a bioproject whose attributes r2 prunes whole: constant except
    // missing cells, and all-unique
    nPruned <- Gen.choose(2, 6)
    pruned <- Gen.listOfN(nPruned, Gen.oneOf("k", "nan", null))
  } yield rows.flatten ++ pruned.zipWithIndex.flatMap { case (v, bi) =>
    Seq(("bpPruned", s"bs$bi", "const", v),
      ("bpPruned", s"bs$bi", "uniq", s"u$bi"))
  }

  property("matches the independent plain-Scala set-maker") =
    // no shrinking: Shrink[String] cannot shrink the null cells
    Prop.forAllNoShrink(genRows) { rows =>
      import spark.implicits._
      val long = rows.toDF("bioproject", "biosample_id", "attribute",
        "value")
      val got = MetadataCondenser.condense(long)
        .select("bioproject", "attributes", "values", "members", "include")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getSeq[String](3).toList, r.getBoolean(4)))
        .toSet
      val exp = expected(rows)
      if (got != exp) {
        println(s"rows=$rows\ngot=$got\nexp=$exp")
      }
      got == exp
    }
}
