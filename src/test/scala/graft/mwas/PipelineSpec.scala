package graft.mwas


import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{ArrayExcept,
  AttributeReference, Expression, Log2, RegExpReplace}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{Exchange,
  REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
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

  test("a bioproject over permMaxPooled routes to the Welch path") {
    import spark.implicits._
    // 10 nonzero biosamples; stored side {BS1..BS5} → min side 5 >= the
    // permutation cutoff (4), so ONLY the pooled bound can force the t-test
    // route
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

    // sanity: within the bound, this contrast takes the permutation route
    assert(statusWith(MwasConfig()).startsWith("permutation_test"))
    // a pooled universe of 10 over the bound of 9: no side is split out
    // for the kernel and the contrast routes to the closed-form Welch t
    val bounded = Pipeline.run(input, catalog, sets,
      MwasConfig(permMaxPooled = 9)).cache()
    val r = bounded.collect().head
    assert(r.getAs[String]("status").startsWith("t_test"))
    assert(!r.getAs[Double]("test_statistic").isNaN)
    assert(r.getAs[Long]("num_true") === 5L)
    // true side {1..5} mean 3, false side {6..10} mean 8, pop var 2 each:
    // t = (3-8)/sqrt(2/5 + 2/5) = -5.590169...
    assert(math.abs(r.getAs[Double]("test_statistic") -
      (-5.0 / math.sqrt(0.8))) < 1e-9)
  }

  test("the kernel's sides are the members' nonzero multisets, zero-padded; " +
      "memo hits return the same result") {
    import spark.implicits._
    // 24 biosamples: BS1..BS20 provided, their rpms repeating on both sides
    // of every set (BS2, BS7, ... explicit zeros), BS21..BS24 catalog-only
    // (implicit zeros). g1 and g2 carry identical values, so each of their
    // contrasts is the other's memo hit; g3 moves BS20, a non-member of
    // every set, so none of its contrasts is
    val n = 24
    val base = Array(2.0, 0.0, 5.0, 2.0, 7.0)
    def value(g: String, i: Int): Double =
      if (i > 20) 0.0 else if (g == "g3" && i == 20) 3.0 else base((i - 1) % 5)
    val catalog = (1 to n)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val input = (for (g <- Seq("g1", "g2", "g3"); i <- 1 to 20)
      yield (s"R$i", g, value(g, i))).toDF("run", "group", "quantifier")
    // the same 12 stored members with both polarities (Monte-Carlo: C(24,
    // 12) resamples past the enumeration cutoff), and a 4-member set
    // (exact: C(24, 4) = 10626)
    val sets = Seq(("a", 12, true), ("b", 12, false), ("c", 4, true))
    val setsDf = sets.zipWithIndex.map { case ((v, k, inc), id) =>
        ("bp1", "f", v, (1 to k).map(i => s"BS$i"), k, inc, n, id.toLong)
      }.toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val cfg = MwasConfig()
    val out = Pipeline.run(input, catalog, setsDf, cfg).collect()
    assert(out.length === 9)

    // each side by hand: its members' nonzero rpms sorted ascending, then
    // its zeros, observed and implicit alike
    def side(g: String, in: Int => Boolean): Array[Double] = {
      val xs = (1 to n).filter(in).map(value(g, _)).toArray
      val nonzero = xs.filter(_ != 0)
      java.util.Arrays.sort(nonzero)
      nonzero ++ new Array[Double](xs.length - nonzero.length)
    }
    for (r <- out) {
      val g = r.getAs[String]("group")
      val (v, k, inc) = sets.find(_._1 == r.getAs[String]("metadata_value")).get
      val isTrue = (i: Int) => (i <= k) == inc
      val e = graft.stats.PermutationTest.test(side(g, isTrue),
        side(g, i => !isTrue(i)), cfg.permResamples, 20000,
        20.0 * cfg.pValueThreshold)
      assert(r.getAs[String]("status")
        .startsWith(s"permutation_test (${e.method})"), s"$g $v")
      assert(r.getAs[Double]("test_statistic") === e.statistic, s"$g $v")
      assert(r.getAs[Double]("p_value") === e.p_value, s"$g $v")
    }
    val statuses = out.map(_.getAs[String]("status"))
    assert(statuses.exists(_.contains("permutation_exact")) &&
      statuses.exists(_.contains("permutation_mc")), statuses.mkString(", "))
    def byGroup(g: String) = out.filter(_.getAs[String]("group") == g)
      .map(r => (r.getAs[String]("metadata_value"),
        r.getAs[Double]("test_statistic"), r.getAs[Double]("p_value"))).toSet
    assert(byGroup("g1") === byGroup("g2"))
    assert((byGroup("g1") intersect byGroup("g3")).isEmpty)
  }

  test("a set with members outside the catalog is tested on its own " +
      "sides, next to its group's shared-stream contrasts") {
    import spark.implicits._
    // 24 catalog biosamples, all nonzero; set "out" stores BS1..BS12 plus
    // BSX, which no catalog lists: n_stored = 13, so its include=false
    // true side counts 24 - 13 = 11 but holds the 12 non-members' values,
    // more than its size. Set "in" (BS1..BS12, include=true) is a plain
    // Monte-Carlo contrast of the same group
    val n = 24
    def value(i: Int): Double = (i % 7 + 1).toDouble
    val catalog = (1 to n)
      .map(i => (s"R$i", s"BS$i", "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val input = (1 to n).map(i => (s"R$i", "g1", value(i)))
      .toDF("run", "group", "quantifier")
    val stored = (1 to 12).map(i => s"BS$i")
    val setsDf = Seq(("in", stored, 12, true, 0L),
        ("out", stored :+ "BSX", 13, false, 1L))
      .map { case (v, m, k, inc, id) =>
        ("bp1", "f", v, m, k, inc, n, id)
      }.toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val cfg = MwasConfig()
    val out = Pipeline.run(input, catalog, setsDf, cfg).collect()
      .map(r => r.getAs[String]("metadata_value") -> r).toMap
    val (low, high) = (1 to n).map(value).toArray.splitAt(12)
    java.util.Arrays.sort(low)
    java.util.Arrays.sort(high)
    // "out": true side = BS13..BS24 (12 values, no padding), false side =
    // BS1..BS12 padded to 13 with one zero
    for ((v, x, y) <- Seq(("in", low, high),
        ("out", high, java.util.Arrays.copyOf(low, 13)))) {
      val e = graft.stats.PermutationTest.test(x, y, cfg.permResamples,
        20000, 20.0 * cfg.pValueThreshold)
      assert(e.method.startsWith("permutation_mc"), v)
      assert(out(v).getAs[Double]("test_statistic") === e.statistic, v)
      assert(out(v).getAs[Double]("p_value") === e.p_value, v)
    }
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

  test("two incremental triggers equal the batch run over both batches") {
    import spark.implicits._
    // three bioprojects of 8 biosamples, two runs per biosample; the
    // second batch brings bp1's second runs, so its g1 state rows merge
    // by addition and g2 appears for bp1 only
    val bps = Seq("bp1", "bp2", "bp3")
    val catalog = for (bp <- bps; i <- 1 to 8; r <- Seq("a", "b"))
      yield (s"$bp-R$i$r", s"$bp-BS$i", bp, 1000000.0)
    val catalogDf = catalog.toDF("run", "bio_sample", "bio_project", "spots")
    val sets = bps.zipWithIndex.map { case (bp, k) =>
      (bp, "tissue", "liver", (1 to 4).map(i => s"$bp-BS$i"), 4, true, 8,
        k.toLong)
    }.toDF("bioproject", "attributes", "values", "members", "n_stored",
      "include", "n_biosamples", "set_id")
    val runs = catalog.map(_._1)
    val first = runs.filter(_.endsWith("a"))
      .map(run => (run, "g1", (run.hashCode & 0xff).toDouble))
    val second = runs.filter(r => r.startsWith("bp1") && r.endsWith("b"))
      .flatMap(run => Seq((run, "g1", (run.hashCode & 0x3f).toDouble),
        (run, "g2", (run.hashCode & 0x7f).toDouble + 1)))
    val batches = Seq(first, second)
      .map(_.toDF("run", "group", "quantifier"))
    val cfg = MwasConfig(onlyTTest = true)

    val pdims = Pipeline.dims(catalogDf, sets)
    val streamed = batches.foldLeft(
        (Option.empty[org.apache.spark.sql.DataFrame],
          Option.empty[org.apache.spark.sql.DataFrame])) {
      case ((state, _), batch) =>
        val (next, full) = Pipeline.incrementalTrigger(batch, catalogDf,
          sets, cfg, pdims, state)
        (Some(next), Some(full))
    }._2.get
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.drop("runtime_seconds", "memory_usage_bytes").collect()
        .map(_.toSeq.mkString("|")).toSet

    val out = rows(streamed)
    assert(out.size === 4) // (g1 × 3 bioprojects) + (g2 × bp1)
    assert(out === rows(Pipeline.run(batches.reduce(_ union _), catalogDf,
      sets, cfg)))
  }

  test("a trigger's state keeps its bioproject pin across the checkpoint: " +
      "the next trigger's readout plans no exchange of it") {
    import spark.implicits._
    val catalog = (1 to 8)
      .map(i => (s"R$i", s"BS$i", s"bp${i % 2}", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    val sets = Seq(0, 1).map(k => (s"bp$k", "tissue", "liver",
        Seq(1, 3).map(i => s"BS${i + 1 - k}"), 2, true, 4, k.toLong))
      .toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    val Seq(first, second) = Seq(1 to 4, 5 to 8).map(_.map(i =>
      (s"R$i", "g1", i.toDouble)).toDF("run", "group", "quantifier"))
    val cfg = MwasConfig(onlyTTest = true)
    val pdims = Pipeline.dims(catalog, sets)
    val (s1, _) = Pipeline.incrementalTrigger(first, catalog, sets, cfg,
      pdims, None)
    val (s2, full) = Pipeline.incrementalTrigger(second, catalog, sets, cfg,
      pdims, Some(s1))
    s2.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.collect { case a: AttributeReference => a.name }
          === Seq("bio_project"))
      case other => fail(s"checkpointed state partitioned by $other")
    }
    val plan = full.queryExecution.executedPlan.toString
    assert(!plan.contains("REPARTITION_BY_NUM"), plan)
    assert(full.count() === 2L) // g1 in both bioprojects
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
      val executed = Pipeline.run(input, catalog, sets, MwasConfig())
        .queryExecution.executedPlan
      val plan = executed.toString
      def names(es: Seq[Expression]) = es.collect {
        case a: AttributeReference => a.name
      }
      // the exchanges whose input is catalog⋈input rows: a join on `run`
      // below them, with no other exchange between (a broadcast build
      // side is an exchange of one join input, not of the joined rows)
      def joinedBelow(p: SparkPlan): Boolean = p match {
        case _: Exchange => false
        case j: BaseJoinExec if names(j.leftKeys) == Seq("run") => true
        case _ => p.children.exists(joinedBelow)
      }
      val runJoins = executed.collect {
        case j: BaseJoinExec if names(j.leftKeys) == Seq("run") => j
      }
      assert(runJoins.size === 1,
        s"catalog⋈input join planned ${runJoins.size} times:\n$plan")
      val exchanges = executed.collect { case e: ShuffleExchangeExec => e }
      val carriers = exchanges.filter(e => joinedBelow(e.child))
      // the joined rows cross ONE exchange, the width pin by bioproject;
      // the state aggregation and the readout both run inside it
      assert(carriers.size === 1,
        s"catalog⋈input rows cross ${carriers.size} exchanges:\n$plan")
      assert(carriers.head.shuffleOrigin === REPARTITION_BY_NUM, plan)
      carriers.head.outputPartitioning match {
        case h: HashPartitioning =>
          assert(names(h.expressions) === Seq("bio_project"), plan)
        case other => fail(s"pinned exchange partitions by $other:\n$plan")
      }
      val stateGrain = exchanges.filter(_.outputPartitioning match {
        case h: HashPartitioning =>
          names(h.expressions) == Seq("bio_project", "group", "bio_sample")
        case _ => false
      })
      assert(stateGrain.isEmpty, s"state-grain exchange planned:\n$plan")
      // the universe rides on the state: the catalog is scanned once
      val catalogScans = executed.collectLeaves().filter(l =>
        !l.isInstanceOf[ReusedExchangeExec] &&
          l.output.exists(_.name == "bio_sample"))
      assert(catalogScans.size === 1,
        s"catalog scanned ${catalogScans.size} times:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the per-bioproject pass is planned once, with no memo join-back") {
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
    // the static plan, with every join a shuffle join: what a large input
    // plans, and where a second reader of the readout would show
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val executed = Pipeline.run(input, catalog, sets, MwasConfig())
        .queryExecution.executedPlan
      val plan = executed.toString
      val lines = plan.linesIterator.toSeq
      val generates = lines.filter(_.contains("Generate "))
      assert(generates.size === 1,
        s"contrasts Generate planned ${generates.size} times:\n$plan")
      val memo = lines.filter(l => (l.contains("Join") ||
          l.contains("Aggregate")) &&
        Seq("memo_key", "stored_vals", "all_vals").exists(l.contains))
      assert(memo.isEmpty, s"memo join or dedup planned:\n$plan")
      // the pass emits finished rows: no Welch, complement, label or log2
      // expression is left for a generated stage to evaluate
      val assembly = executed.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: graft.functions.WelchTTest | _: ArrayExcept |
            _: RegExpReplace | _: Log2) => e.getClass.getSimpleName
      }))
      assert(assembly.isEmpty, s"${assembly.distinct} planned:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("the readout's width pin takes a caller's scoped shuffle width") {
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
    // AQE off: the static plan shows each exchange's planned width
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // planned under the scope of a stream trigger, on local[4]
      val out = graft.streaming.StreamingQueries
        .withShufflePartitions(spark, Some("2")) {
          Pipeline.run(input, catalog, sets, MwasConfig())
        }
      val plan = out.queryExecution.executedPlan.toString
      val pinned = plan.linesIterator.filter(_.contains("REPARTITION_BY_NUM"))
        .toSeq
      assert(pinned.size === 1, plan)
      assert(pinned.head.contains("hashpartitioning(bio_project") &&
        pinned.head.contains(", 2)"), plan)
      assert(out.count() === 1L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("output rows by hand: zero-variance Welch, complement listings, " +
      "the listing cap, stat-only rows, labels, non-positive mean ratios") {
    import spark.implicits._
    // ten biosamples BS01..BS10, values taken as rpm, in three groups:
    // g1 is 2 on BS01..03 and 5 elsewhere (both sides constant on every
    // Welch set), g2 is 3 everywhere (equal constant sides), g3 is
    // -1, -2, -3 on BS01..03 and 2 elsewhere (negative mean ratios)
    val ids = (1 to 10).map(i => f"BS$i%02d")
    val catalog = ids.map(b => (s"R$b", b, "bp1", 1000000.0))
      .toDF("run", "bio_sample", "bio_project", "spots")
    def value(g: String, i: Int): Double = g match {
      case "g1" => if (i <= 3) 2.0 else 5.0
      case "g2" => 3.0
      case _ => if (i <= 3) -i.toDouble else 2.0
    }
    val input = (for (g <- Seq("g1", "g2", "g3"); i <- 1 to 10)
      yield (s"R${ids(i - 1)}", g, value(g, i)))
      .toDF("run", "group", "quantifier")
    val (low, high) = ids.splitAt(3)
    // "liver": BS01..03 stored, include — true side listed as stored;
    // "male": BS04..10 stored, exclude — the same split, true side listed
    // as the complement; "right": BS04..10 stored, include — the mirror
    // split; "old": BS01..05, 5 vs 5 — the permutation route
    val setsDf = Seq(("tissue,type", "liver,left", low, true),
        ("sex", "male", high, false), ("side", "right", high, true),
        ("age", "old", ids.take(5), true))
      .zipWithIndex.map { case ((a, v, m, inc), id) =>
        ("bp1", a, v, m, m.size, inc, 10, id.toLong)
      }.toDF("bioproject", "attributes", "values", "members", "n_stored",
        "include", "n_biosamples", "set_id")
    def rows(cfg: MwasConfig): Map[(String, String), Row] =
      Pipeline.run(input, catalog, setsDf, cfg.copy(alreadyNormalized = true))
        .collect().map(r => (r.getAs[String]("group"),
          r.getAs[String]("metadata_value")) -> r).toMap
    def isNull(r: Row, c: String) = r.isNullAt(r.fieldIndex(c))
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

    val out = rows(MwasConfig())
    assert(out.size === 12)
    out.values.foreach { r =>
      assert(r.getAs[String]("bioproject") === "bp1")
      assert(r.getAs[Double]("runtime_seconds") === 0.0)
      assert(r.getAs[Long]("memory_usage_bytes") === 0L)
    }
    // labels lose their commas
    val liver = out(("g1", "liver left"))
    assert(liver.getAs[String]("metadata_field") === "tissue type")
    // g1: constant sides, different means: t = ±inf, p = 0, significant
    for ((v, t, trueList, falseList) <- Seq(
        ("liver left", Double.NegativeInfinity, low, high),
        ("male", Double.NegativeInfinity, low, high),
        ("right", Double.PositiveInfinity, high, low))) {
      val r = out(("g1", v))
      val (nT, nF) = (trueList.size.toLong, falseList.size.toLong)
      val (mT, mF) = if (nT == 3) (2.0, 5.0) else (5.0, 2.0)
      assert(r.getAs[String]("status") === "t_test; significant", v)
      assert((r.getAs[Long]("num_true"), r.getAs[Long]("num_false")) ===
        ((nT, nF)), v)
      assert((r.getAs[Double]("mean_rpm_true"),
        r.getAs[Double]("mean_rpm_false")) === ((mT, mF)), v)
      assert((r.getAs[Double]("sd_rpm_true"),
        r.getAs[Double]("sd_rpm_false")) === ((0.0, 0.0)), v)
      assert(r.getAs[Double]("test_statistic") === t, v)
      assert(r.getAs[Double]("p_value") === 0.0, v)
      assert(near(r.getAs[Double]("fold_change"),
        math.log(mT / mF) / math.log(2.0)), v)
      assert(r.getAs[String]("true_biosamples") === trueList.mkString("; "), v)
      assert(r.getAs[String]("false_biosamples") === falseList.mkString("; "),
        v)
    }
    // g2: constant, equal sides: t and p are NaN, not significant
    for (v <- Seq("liver left", "male", "right")) {
      val r = out(("g2", v))
      assert(r.getAs[String]("status") === "t_test", v)
      assert(r.getAs[Double]("test_statistic").isNaN, v)
      assert(r.getAs[Double]("p_value").isNaN, v)
      assert(r.getAs[Double]("fold_change") === 0.0, v)
      assert(r.getAs[String]("true_biosamples") === "", v)
      assert(r.getAs[String]("false_biosamples") === "", v)
    }
    // g3: mean ratio -1 has no log2: null fold change. True side {-1,-2,-3}
    // (pop sd sqrt(2/3)) vs constant 2: t = ∓4/sqrt(2/9), df = 2, where
    // the two-sided t-tail is 1 - |t|/sqrt(2 + t²) = 1 - sqrt(72/74)
    for ((v, sign) <- Seq(("liver left", -1), ("male", -1), ("right", 1))) {
      val r = out(("g3", v))
      assert(isNull(r, "fold_change"), v)
      assert(near(r.getAs[Double]("test_statistic"),
        sign * 4.0 / math.sqrt(2.0 / 9)), v)
      assert(near(r.getAs[Double]("p_value"), 1 - math.sqrt(72.0 / 74)), v)
      assert(r.getAs[String]("status") === "t_test", v)
      assert(r.getAs[String]("true_biosamples") === "", v)
    }
    // "old" is 5 vs 5, exact enumeration of C(10, 5) = 252 splits: g1 and
    // g3 each have 42 splits at least as extreme (p = 1/6), g2 has 252
    for ((g, mT, mF, p, fold) <- Seq(
        ("g1", 3.2, 5.0, 1.0 / 6, Some(math.log(3.2 / 5) / math.log(2.0))),
        ("g2", 3.0, 3.0, 1.0, Some(0.0)),
        ("g3", -0.4, 2.0, 1.0 / 6, None))) {
      val r = out((g, "old"))
      assert(r.getAs[String]("status") ===
        "permutation_test (permutation_exact)", g)
      assert(near(r.getAs[Double]("mean_rpm_true"), mT), g)
      assert(near(r.getAs[Double]("test_statistic"), mT - mF), g)
      assert(near(r.getAs[Double]("p_value"), p), g)
      assert(fold.fold(isNull(r, "fold_change"))(f =>
        near(r.getAs[Double]("fold_change"), f)), g)
      assert(r.getAs[String]("false_biosamples") === "", g)
    }

    // the listing cap: a side of at least biosampleListCap is not listed
    val capped = rows(MwasConfig(biosampleListCap = 4))
    for ((v, trueList, falseList) <- Seq(
        ("liver left", low.mkString("; "), "too many biosamples to list"),
        ("male", low.mkString("; "), "too many biosamples to list"),
        ("right", "too many biosamples to list", low.mkString("; ")))) {
      assert(capped(("g1", v)).getAs[String]("true_biosamples") === trueList)
      assert(capped(("g1", v)).getAs[String]("false_biosamples") === falseList)
    }

    // statistic-only mode: the permutation rows carry the mean difference,
    // a null p, no suffix and no listings; Welch rows are unchanged
    val statOnly = rows(MwasConfig(statClosedForm = true))
    for ((g, diff) <- Seq(("g1", 3.2 - 5.0), ("g2", 0.0), ("g3", -0.4 - 2))) {
      val r = statOnly((g, "old"))
      assert(r.getAs[String]("status") === "permutation_test (stat_only)", g)
      assert(near(r.getAs[Double]("test_statistic"), diff), g)
      assert(isNull(r, "p_value"), g)
      assert(r.getAs[String]("true_biosamples") === "", g)
      assert(r.getAs[String]("false_biosamples") === "", g)
    }
    assert(statOnly(("g1", "male")).toSeq === out(("g1", "male")).toSeq)
  }
}
