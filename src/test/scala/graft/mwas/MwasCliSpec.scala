package graft.mwas

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E2e over the CLI surface (minus session lifecycle): positional CSV in,
  * per-bioproject tree + combined CSV out, flags routed. The reference's
  * `python mwas_general.py input.csv` contract. */
class MwasCliSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("mwas-cli-spec")
    .getOrCreate()

  test("CSV in -> per-bioproject + combined CSV out, flags applied") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_cli")

    // positional user CSV (any header names — S1 is positional)
    val csv = s"$dir/input.csv"
    val rows = (1 to 6).map(i => s"R$i,g1,$i.0")
    Files.writeString(java.nio.file.Paths.get(csv),
      ("run,grp,quant" +: rows).mkString("\n"))

    (1 to 6).map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
      .write.mode("overwrite").parquet(s"$dir/catalog")
    // LONG-form metadata: the CLI must condense on the fly
    (1 to 6).map(i =>
        ("bp1", s"BS$i", "tissue", if (i <= 3) "liver" else "kidney"))
      .toDF("bioproject", "biosample_id", "attribute", "value")
      .write.mode("overwrite").parquet(s"$dir/meta")

    val (n, sig) = MwasCli.run(spark, Array(
      csv, s"$dir/catalog", s"$dir/meta", s"$dir/out",
      "--p-threshold=0.9", "--only-t-test"))
    // liver {1,2,3} vs kidney {4,5,6} twice (include flips per factor)
    assert(n === 2)
    assert(sig === 2) // |t|=4.5 -> p ~0.01 < 0.9 with the loose threshold

    val combined = spark.read.option("header", "true")
      .csv(s"$dir/out/combined")
    assert(combined.count() === 2)
    assert(combined.columns.length === 18)
    assert(combined.select(col("status")).as[String].collect()
      .forall(s => s.startsWith("t_test") && s.contains("significant")))
    val per = spark.read.option("header", "true")
      .option("basePath", s"$dir/out/per_bioproject")
      .csv(s"$dir/out/per_bioproject")
    assert(per.select(col("bioproject")).distinct().as[String]
      .collect().toSeq === Seq("bp1"))
  }

  test("the returned (tests, significant) equal a recount of the written " +
      "per-bioproject tree, with and without --no-combined") {
    import spark.implicits._
    val dir = graft.core.TempDirs.create("graft_cli_counts")
    // three bioprojects of 12 biosamples (bp3 has no input rows), two
    // groups; a Welch, an exact and a complement set per bioproject
    val catalog = for (bp <- 1 to 3; i <- 1 to 12)
      yield (s"P$bp-R$i", s"P$bp-BS$i", s"bp$bp", 1000000.0)
    catalog.toDF("run", "bio_sample", "bio_project", "spots")
      .write.mode("overwrite").parquet(s"$dir/catalog")
    val rows = catalog.filter(_._3 != "bp3").flatMap { case (run, _, _, _) =>
      val i = run.split("R")(1).toInt
      Seq(s"$run,g1,${if (i <= 3) 100 + i else i}", s"$run,g2,${i % 4}")
    }
    Files.writeString(java.nio.file.Paths.get(s"$dir/input.csv"),
      ("run,group,quantifier" +: rows).mkString("\n"))
    val sets = for (bp <- 1 to 3; (n, inc) <- Seq((2, true), (3, true),
        (5, false)))
      yield (s"bp$bp", "factor", s"v$n", (1 to n).map(i => s"P$bp-BS$i"),
        n, inc, 12)
    sets.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples")
      .write.mode("overwrite").parquet(s"$dir/sets")

    for (flags <- Seq(Seq("--p-threshold=0.05"),
        Seq("--p-threshold=0.05", "--no-combined"))) {
      val out = s"$dir/out${flags.size}"
      val (n, sig) = MwasCli.run(spark, Array(s"$dir/input.csv",
        s"$dir/catalog", s"$dir/sets", out) ++ flags)
      val per = spark.read.option("header", "true")
        .csv(s"$out/per_bioproject")
      val statuses = per.select(col("status")).as[String].collect()
      assert(n === statuses.length.toLong, flags)
      assert(sig === statuses.count(_.contains("significant")).toLong, flags)
      // both bioprojects with input rows test both groups on every set
      assert(n === 12L && sig > 0L && sig < n, flags)
      assert(new java.io.File(s"$out/combined").exists ===
        !flags.contains("--no-combined"), flags)
    }
  }
}
