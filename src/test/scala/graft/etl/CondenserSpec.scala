package graft.etl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** §5.1 round-trip property (the reference's strongest oracle,
  * main/tests/metadata_set_maker_tests/metadata_set_maker_test.py:69-135):
  * condensing then reconstructing must reproduce every (biosample, value)
  * cell of the original metadata — with the reference's carve-outs: NaN /
  * 'nan' cells, singleton factors, and constant / all-unique attributes
  * are unrecoverable by design.
  */
class CondenserSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("condenser-spec")
    .getOrCreate()

  test("condense→reconstruct round-trips recoverable cells; " +
      "rules r2-r6 hold") {
    import spark.implicits._
    // bp1: tissue has {liver×3, brain×2, nan}; status constant (dropped);
    // id_col all-unique (dropped); rare has a singleton 'x' (skipped) and
    // y×2 which duplicates brain's membership → label-merged set; na_col
    // is constant-except-NA-literals ('None'/'NA' are pandas read-time
    // NaN, like 'nan') → nunique 1 → dropped whole (r2).
    val wide = Seq(
      ("bp1", "s1", "liver", "ok", "u1", "z", "live"),
      ("bp1", "s2", "liver", "ok", "u2", "z", "live"),
      ("bp1", "s3", "liver", "ok", "u3", "z", "live"),
      ("bp1", "s4", "brain", "ok", "u4", "y", "live"),
      ("bp1", "s5", "brain", "ok", "u5", "y", "None"),
      ("bp1", "s6", "nan", "ok", "u6", "x", "NA"),
      ("bp2", "t1", "a", "ok", "v1", "m", "live"),
      ("bp2", "t2", "a", "ok", "v2", "m", "live"),
      ("bp2", "t3", "b", "ok", "v3", "n", "live"),
      ("bp2", "t4", "b", "ok", "v4", "n", "live"))
      .toDF("bioproject", "biosample_id", "tissue", "status", "id_col",
        "rare", "na_col")

    val long = MetadataCondenser.melt(wide, "bioproject", "biosample_id")
    val sets = MetadataCondenser.condense(long).cache()

    // r2: constant (status), all-unique (id_col), and constant-except-NA
    // (na_col) attributes are gone
    val attrs = sets.select(explode(split(col("attributes"), "; ")))
      .distinct().as[String].collect().toSet
    assert(!attrs.contains("status") && !attrs.contains("id_col") &&
      !attrs.contains("na_col"))

    // r3/r4: no 'nan' value, no singleton 'x' factor
    val values = sets.select(explode(split(col("values"), "; ")))
      .distinct().as[String].collect().toSet
    assert(!values.contains("nan") && !values.contains("x"))

    // r6: brain and rare=y have identical membership {s4,s5} → ONE set
    // with merged labels (include=true side; the liver/z complements also
    // contain s4 but store the majority complement {s4,s5,s6})
    val merged = sets.filter(col("bioproject") === "bp1" &&
      col("include") && array_contains(col("members"), "s4")).collect()
    assert(merged.length === 1)
    assert(merged.head.getAs[String]("attributes") === "rare; tissue")
    assert(merged.head.getAs[String]("values") === "y; brain")

    // r5: minority side stored with include polarity
    val bp1n = sets.filter(col("bioproject") === "bp1")
      .select(col("n_stored"), col("n_biosamples"), col("include"))
      .collect()
    bp1n.foreach { r =>
      val minority = r.getAs[Int]("n_stored") <
        r.getAs[Int]("n_biosamples") / 2.0
      assert(r.getAs[Boolean]("include") === minority)
    }

    // the round-trip: reconstruct (attribute, value) → biosample cells
    // from the stored side + polarity and compare against the original
    // long relation, minus the carve-outs
    val universe = long.groupBy(col("bioproject"))
      .agg(sort_array(collect_set(col("biosample_id"))).as("all_members"))
    val reconstructed = sets.join(universe, "bioproject")
      .withColumn("true_members",
        when(col("include"), col("members"))
          .otherwise(array_except(col("all_members"), col("members"))))
      .select(col("bioproject"),
        explode(arrays_zip(split(col("attributes"), "; "),
          split(col("values"), "; "))).as("av"),
        col("true_members"))
      .select(col("bioproject"), col("av.0").as("attribute"),
        col("av.1").as("value"),
        explode(col("true_members")).as("biosample_id"))

    val nBp = long.select("bioproject", "biosample_id").distinct()
      .groupBy("bioproject").count().withColumnRenamed("count", "n_bs")
    val recoverable = long
      .filter(col("value").isNotNull &&
        !col("value").isin(MetadataCondenser.PandasNaValues: _*))
      .join(nBp, "bioproject")
      .withColumn("nd", size(collect_set(col("value")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bioproject",
          "attribute"))))
      .filter(col("nd") > 1 && col("nd") < col("n_bs"))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("bioproject",
          "attribute", "value")))
      .filter(col("cnt") > 1)
      .select("bioproject", "attribute", "value", "biosample_id")

    assert(reconstructed.exceptAll(recoverable).isEmpty &&
      recoverable.exceptAll(reconstructed).isEmpty,
      "reconstructed cells must equal the recoverable original cells")
  }

  test("output schema, nullability included, is the sets schema " +
      "callers rely on") {
    import spark.implicits._
    val long = Seq(("bp1", "s1", "a", "x"), ("bp1", "s2", "a", "x"),
        ("bp1", "s3", "a", "y"), ("bp1", "s4", "a", "y"),
        ("bp1", "s5", "a", "z"))
      .toDF("bioproject", "biosample_id", "attribute", "value")
    val sets = MetadataCondenser.condense(long)
    def f(name: String, t: DataType, nullable: Boolean = false) =
      StructField(name, t, nullable)
    assert(sets.schema === StructType(Seq(
      f("bioproject", StringType, nullable = true),
      f("attributes", StringType), f("values", StringType),
      f("members", ArrayType(StringType, containsNull = false)),
      f("n_stored", IntegerType), f("include", BooleanType, nullable = true),
      f("n_biosamples", IntegerType), f("set_id", LongType))))
    assert(sets.count() === 2)
  }

  test("a biosample seen only on a null-attribute row is in the universe") {
    import spark.implicits._
    // s5's only cell has a null attribute: it belongs to no factor, but it
    // counts into n_biosamples and lands on the complement side of 'x'
    val long = Seq(("bp1", "s1", "a", "x"), ("bp1", "s2", "a", "x"),
        ("bp1", "s3", "a", "x"), ("bp1", "s4", "a", "y"),
        ("bp1", "s5", null, "z"))
      .toDF("bioproject", "biosample_id", "attribute", "value")
    val sets = MetadataCondenser.condense(long)
      .select("attributes", "values", "members", "n_stored", "include",
        "n_biosamples")
      .as[(String, String, Seq[String], Int, Boolean, Int)].collect()
    assert(sets.toSeq === Seq(("a", "x", Seq("s4", "s5"), 2, false, 5)))
  }
}
