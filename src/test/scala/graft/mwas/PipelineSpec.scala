package graft.mwas


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end pipeline check on a hand-computed fixture, plus the S7
  * partitioned-sink round trip. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .appName("pipeline-spec")
    .getOrCreate()

  test("hand-computed Welch contrast flows through; partitioned sink " +
      "round-trips") {
    import spark.implicits._
    // spots = 1e6 so rpm == quantifier; quantifiers 1..6 over 6 biosamples
    val catalog = (1 to 6)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val input = (1 to 6).map(i => (s"R$i", "g1", i.toDouble))
      .toDF("run", "group", "quantifier")
    // one set: members {BS1,BS2,BS3}, include=true
    val sets = Seq(("bp1", "tissue", "liver", Seq("BS1", "BS2", "BS3"),
        3, true, 6, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")

    val out = Pipeline.run(input, catalog, sets, MwasConfig()).cache()
    val row = out.collect()
    assert(row.length === 1)
    val r = row.head
    // true side {1,2,3}: mean 2, pop sd sqrt(2/3); false side {4,5,6}:
    // mean 5 → Welch t = (2-5)/sqrt(2*(2/3)/3) = -4.5; min side 3 < 4 → t
    assert(r.getAs[Long]("num_true") === 3L)
    assert(r.getAs[Long]("num_false") === 3L)
    assert(math.abs(r.getAs[Double]("mean_rpm_true") - 2.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("mean_rpm_false") - 5.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("test_statistic") - (-4.5)) < 1e-9)
    assert(r.getAs[String]("status").startsWith("t_test"))
    assert(math.abs(r.getAs[Double]("fold_change") -
      (math.log(2.0 / 5.0) / math.log(2.0))) < 1e-9)

    // S7: per-bioproject partitioned CSV sink round-trips
    val dir = graft.core.TempDirs.create("graft_sink")
    Pipeline.writePerBioproject(out, dir)
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.count() === 1)
    assert(back.select(col("bioproject")).as[String].head() === "bp1")
  }

  test("a group over permCollectCap completes and routes to the Welch " +
      "path (no unbounded value buffer)") {
    import spark.implicits._
    // 10 nonzero biosamples; stored side {BS1..BS5} → min side 5 >= the
    // permutation cutoff (4), so ONLY the cap can force the t-test route
    val catalog = (1 to 10)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val input = (1 to 10).map(i => (s"R$i", "g1", i.toDouble))
      .toDF("run", "group", "quantifier")
    val sets = Seq(("bp1", "tissue", "liver", (1 to 5).map(i => s"BS$i"),
        5, true, 10, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")

    def statusWith(cfg: MwasConfig): String =
      Pipeline.run(input, catalog, sets, cfg)
        .select(col("status")).as[String].head()

    // sanity: uncapped, this contrast takes the permutation route
    assert(statusWith(MwasConfig()).startsWith("permutation_test"))
    // capped below the group's 10 nonzeros: values are never collected
    // and the contrast routes to the closed-form Welch t — completing
    // where an unbounded collect_list would have buffered the whole group
    val capped = Pipeline.run(input, catalog, sets,
      MwasConfig(permCollectCap = 5)).cache()
    val r = capped.collect().head
    assert(r.getAs[String]("status").startsWith("t_test"))
    assert(!r.getAs[Double]("test_statistic").isNaN)
    assert(r.getAs[Long]("num_true") === 5L)
    // true side {1..5} mean 3, false side {6..10} mean 8, pop var 2 each:
    // t = (3-8)/sqrt(2/5 + 2/5) = -5.590169...
    assert(math.abs(r.getAs[Double]("test_statistic") -
      (-5.0 / math.sqrt(0.8))) < 1e-9)
  }

  test("an all-zero true side has mean exactly 0.0 and fold change " +
      "-Infinity") {
    import spark.implicits._
    val catalog = (1 to 23)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    // BS1..BS3 provided as explicit zeros; BS4..BS23 carry values of
    // mixed magnitude, whose float sum depends on association order
    val values = (4 to 23).map(i => math.pow(10, i % 7 - 3) / i)
    val input = ((1 to 3).map(i => (s"R$i", "g1", 0.0)) ++
        (4 to 23).map(i => (s"R$i", "g1", values(i - 4))))
      .toDF("run", "group", "quantifier")
    // include=false: the stored set is the FALSE side, so the true side
    // {BS1,BS2,BS3} is the complement and must be summed on its own
    val sets = Seq(("bp1", "tissue", "liver", (4 to 23).map(i => s"BS$i"),
        20, false, 23, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val r = Pipeline.run(input, catalog, sets, MwasConfig()).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("num_true") === 3L)
    assert(r.head.getAs[Double]("mean_rpm_true") === 0.0)
    assert(r.head.getAs[Double]("sd_rpm_true") === 0.0)
    assert(math.abs(r.head.getAs[Double]("mean_rpm_false") /
      (values.sum / 20) - 1) < 1e-12)
    assert(r.head.getAs[Double]("fold_change") === Double.NegativeInfinity)
  }

  test("the delta-driven readout equals the full recompute") {
    import spark.implicits._
    // three bioprojects of 8 biosamples; the second batch touches bp1
    // only, so 2·|changed| < |universe| and the delta arm runs
    val bps = Seq("bp1", "bp2", "bp3")
    val catalog = for (bp <- bps; i <- 1 to 8)
      yield (s"$bp-R$i", s"$bp-BS$i", bp, 1000000.0)
    val catalogDf = catalog.toDF("run", "bio_sample", "bio_project", "spots")
    val sets = bps.zipWithIndex.map { case (bp, k) =>
      (bp, "tissue", "liver", (1 to 4).map(i => s"$bp-BS$i"), 4, true, 8,
        k.toLong)
    }.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples", "set_id")
    val first = catalog.map { case (run, _, bp, _) =>
      (run, "g1", (run.hashCode & 0xff).toDouble) }
    val second = catalog.filter(_._3 == "bp1").map { case (run, _, _, _) =>
      (run, "g2", (run.hashCode & 0x7f).toDouble + 1) }
    val batches = Seq(first, second)
      .map(_.toDF("run", "group", "quantifier"))

    def stream(cfg: MwasConfig): Set[String] = {
      val pdims = Pipeline.dims(catalogDf, sets)
      val nUniverse = pdims.bpUniverse.count()
      val (_, out) = batches.foldLeft(
          (Option.empty[org.apache.spark.sql.DataFrame],
            Option.empty[org.apache.spark.sql.DataFrame])) {
        case ((state, results), batch) =>
          val (next, full) = Pipeline.incrementalTrigger(batch, catalogDf,
            sets, cfg, pdims, nUniverse, state, results)
          (Some(next), Some(full))
      }
      out.get.drop("runtime_seconds", "memory_usage_bytes").collect()
        .map(_.toSeq.mkString("|")).toSet
    }

    val full = stream(MwasConfig(onlyTTest = true))
    assert(full.size === 4) // (g1 × 3 bioprojects) + (g2 × bp1)
    assert(stream(MwasConfig(onlyTTest = true, deltaReadout = true)) === full)
  }

  test("catalog-input join and state-aggregation exchange are each " +
      "planned ONCE") {
    import spark.implicits._
    val catalog = (1 to 8)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val input = (1 to 8).map(i => (s"R$i", "g1", i.toDouble))
      .toDF("run", "group", "quantifier")
    val sets = Seq(("bp1", "tissue", "liver", (1 to 4).map(i => s"BS$i"),
        4, true, 8, 42L))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    // AQE hides exchange reuse behind runtime stage reuse; the static plan
    // makes it assertable
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Pipeline.run(input, catalog, sets, MwasConfig())
        .queryExecution.executedPlan.toString
      // the memo dedup reads the readout twice (distinct tuples, join
      // back); both reads must share one state aggregation and one
      // catalog⋈input join instead of re-deriving them per consumer
      // (ReusedExchange lines quote the target exchange's description,
      // hence the line-wise filter)
      val lines = plan.linesIterator.filterNot(_.contains("ReusedExchange"))
        .toSeq
      val stateExchange = lines.filter(l =>
        l.contains("Exchange hashpartitioning(bio_project#") &&
          l.contains("group#") && l.contains("bio_sample#"))
      val runJoin = lines.filter(l =>
        l.contains("Join") && "\\[run#\\d+\\], \\[run#\\d+\\]".r
          .findFirstIn(l).isDefined)
      assert(stateExchange.size === 1,
        s"state exchange planned ${stateExchange.size} times:\n$plan")
      assert(runJoin.size === 1,
        s"catalog⋈input join planned ${runJoin.size} times:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
