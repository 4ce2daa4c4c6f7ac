package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Events

/** Invariant gates for the behavioral-stats / graph-core wave:
  *
  *   - experiment_ttest: the hash arms partition the (user, type)
  *     population exactly, t is finite with df > 1 on this data, and p
  *     is a valid probability — plus the A/A property: re-running the
  *     contrast with BOTH sides drawn from the same arm must not reject
  *     (sanity that the machinery doesn't manufacture significance).
  *   - markov_transitions: each row of the transition matrix sums to 1
  *     and the transition mass equals sum over users of (n_events − 1).
  *   - interval_merge: merged intervals each span at least the atomic
  *     15-minute window (covered ≥ n_intervals × span), the longest
  *     span never exceeds the total, and event conservation holds.
  *   - k_core: min(core_deg) ≥ k IS the fixpoint certificate — if any
  *     survivor had degree < k another peel round would fire, so the
  *     bounded unrolling provably terminated; core degrees never exceed
  *     the full-graph degrees.
  *   - equiwidth_hist: per-group counts conserve the table, buckets lie
  *     in [0, 19], and bucket_lo is strictly increasing per group.
  */
class BehaviorStatsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .appName("behavior-stats-spec")
    .getOrCreate()

  test("experiment_ttest partitions the population and yields valid stats") {
    val r = BehaviorQueries.experimentTtest(spark, dir).collect()
    assert(r.length === 5)
    val userTypes = Events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct().count()
    assert(r.map(x => x.getAs[Long]("n_a") + x.getAs[Long]("n_b")).sum
      === userTypes)
    r.foreach { x =>
      assert(!x.getAs[Double]("t").isNaN && !x.getAs[Double]("t").isInfinite)
      assert(x.getAs[Double]("df") > 1.0)
      val p = x.getAs[Double]("p")
      assert(p > 0.0 && p <= 1.0)
    }
  }

  test("experiment readout nulls t/df/p when an arm has one observation") {
    // WelchTTest.compute returns None for n < 2; the oracle SQL mirrors
    // it with an explicit n<2 guard (ADVICE r11). Pin the Spark side on
    // a hand-built degenerate relation: user 4 is the arm-0 singleton
    // (PortableHash.bucket assigns 1,2 -> arm 1 and 4 -> arm 0 — the
    // assertion below re-derives it rather than trusting magic ids).
    import spark.implicits._
    val byArm = (1L to 20L).toDF("user_id")
      .select(col("user_id"),
        graft.functions.PortableHash.bucket(col("user_id"), 2).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).map { case (b, us) => b -> us.map(_._1) }
    val users = (byArm(0L).take(1) ++ byArm(1L).take(2)).toSeq // 1-vs-2
    val um = users.zipWithIndex
      .map { case (u, i) => (u, "x", 3.0 + i) }
      .toDF("user_id", "event_type", "um")
    val r = BehaviorQueries.experimentReadout(um).collect()
    assert(r.length === 1)
    assert(r.head.isNullAt(r.head.fieldIndex("t")))
    assert(r.head.isNullAt(r.head.fieldIndex("df")))
    assert(r.head.isNullAt(r.head.fieldIndex("p")))
  }

  test("markov_transitions rows sum to 1 and conserve transition mass") {
    val m = BehaviorQueries.markovTransitions(spark, dir).persist()
    try {
      val rowSums = m.groupBy(col("cur")).agg(sum(col("p")).as("sp"))
        .collect()
      rowSums.foreach(x =>
        assert(math.abs(x.getAs[Double]("sp") - 1.0) < 1e-4))
      val mass = m.agg(sum(col("n"))).head.getLong(0)
      val expected = Events(spark, dir).groupBy(col("user_id")).count()
        .agg(sum(col("count") - 1)).head.getLong(0)
      assert(mass === expected)
    } finally { m.unpersist() }
  }

  test("interval_merge spans and conservation") {
    val iv = BehaviorQueries.intervalMerge(spark, dir).persist()
    try {
      assert(iv.filter(col("covered_us") <
        col("n_intervals") * 900000000L).count() === 0)
      assert(iv.filter(col("max_span_us") > col("covered_us"))
        .count() === 0)
      val events = Events(spark, dir).count()
      assert(iv.agg(sum(col("n_events"))).head.getLong(0) === events)
    } finally { iv.unpersist() }
  }

  test("k_core fixpoint certificate and degree bound") {
    val (core0, stray) = BoundedState.stray(spark)(
      GraphQueries.kCore(spark, dir))
    // the peeling rounds release every superseded edge checkpoint
    assert(stray.isEmpty, s"k_core left unread persistent RDDs $stray")
    val core = core0.persist()
    val tc = GraphQueries.triangleCount(spark, dir)
      .select(col("doc_id"), col("deg")).persist()
    try {
      assert(core.agg(min(col("core_deg"))).head.getLong(0) >= 3L)
      val joined = core.join(tc, Seq("doc_id"), "left")
      assert(joined.filter(col("deg").isNull ||
        col("core_deg") > col("deg")).count() === 0)
    } finally { core.unpersist(); tc.unpersist() }
  }

  test("equiwidth_hist conserves counts with ordered buckets") {
    val h = ProfileQueries.equiwidthHist(spark, dir).persist()
    try {
      val total = h.agg(sum(col("n"))).head.getLong(0)
      val li = graft.core.Tables(spark, dir, "lineitem").count()
      assert(total === li)
      assert(h.filter(col("bucket") < 0 || col("bucket") > 19)
        .count() === 0)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("bucket"))
      val bad = h.withColumn("prev_lo", lag(col("bucket_lo"), 1).over(w))
        .filter(col("prev_lo").isNotNull &&
          col("bucket_lo") <= col("prev_lo")).count()
      assert(bad === 0)
    } finally { h.unpersist() }
  }

  test("stream_experiment reproduces the batch readout") {
    // sums re-associate across batches, so floats agree to tolerance,
    // counts exactly
    val b = BehaviorQueries.experimentTtest(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val st = StreamingExperimentQueries.streamExperiment(spark, dir)
      .collect()
    assert(st.length === b.size)
    st.foreach { r =>
      val e = b(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_a") === e.getAs[Long]("n_a"))
      assert(r.getAs[Long]("n_b") === e.getAs[Long]("n_b"))
      Seq("m_a", "m_b", "t", "p").foreach { c =>
        val (x, y) = (r.getAs[Double](c), e.getAs[Double](c))
        assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
          s"$c drifted: $x vs $y")
      }
    }
  }

  test("top_paths sessions conserve and paths are bounded") {
    val p = BehaviorQueries.topPaths(spark, dir).collect()
    assert(p.nonEmpty && p.length <= 20)
    // descending frequency with path tiebreak
    val ns = p.map(_.getAs[Long]("n_sessions"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    // every path has 1..3 steps drawn from the event vocabulary
    val types = Set("view", "click", "purchase", "signup", "error")
    p.foreach { r =>
      val steps = r.getAs[String]("path").split(">")
      assert(steps.length >= 1 && steps.length <= 3)
      steps.foreach(t => assert(types.contains(t)))
    }
  }

  test("item_cooccurrence cosine is a valid bounded similarity") {
    val c = BehaviorQueries.itemCooccurrence(spark, dir).collect()
    assert(c.length === 30)
    c.foreach { r =>
      val cos = r.getAs[Double]("cosine")
      assert(cos > 0.0 && cos <= 1.0)
      assert(r.getAs[Long]("n_users") >= 1L)
      assert(r.getAs[Int]("item_a") < r.getAs[Int]("item_b"))
    }
    val cs = c.map(_.getAs[Double]("cosine"))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
  }

  test("stream_markov is bit-identical to the batch transition matrix") {
    // counts are integers and p divides the same integers, so the
    // streamed decomposition (within-batch + junction pairs) must
    // reproduce the batch relation EXACTLY, not just to tolerance
    val b = BehaviorQueries.markovTransitions(spark, dir).collect()
    val st = StreamingMarkovQueries.streamMarkov(spark, dir).collect()
    assert(st.map(_.toString).sorted.toSeq ===
      b.map(_.toString).sorted.toSeq)
  }

  test("last_touch_attribution conserves purchases and revenue") {
    val a = BehaviorQueries.lastTouchAttribution(spark, dir).collect()
    val purchases = Events(spark, dir)
      .filter(col("event_type") === "purchase")
    assert(a.map(_.getAs[Long]("n_purchases")).sum === purchases.count())
    val total = purchases
      .agg((sum(round(col("value") * 100).cast("long")).cast("double") /
        100.0).as("t")).head.getDouble(0)
    assert(math.abs(a.map(_.getAs[Double]("revenue")).sum - total) < 0.011)
  }

  test("negative_sampling excludes anchors and near-dup partners") {
    val n = SplitQueries.negativeSampling(spark, dir).persist()
    val pairs = DedupQueries.jaccardPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")).persist()
    try {
      assert(n.filter(col("neg_id") === col("anchor")).count() === 0)
      val bad = n.join(pairs,
        least(col("anchor"), col("neg_id")) === col("doc_a") &&
          greatest(col("anchor"), col("neg_id")) === col("doc_b"))
        .count()
      assert(bad === 0, "a near-dup partner leaked into the negatives")
      val over = n.groupBy(col("anchor")).count()
        .filter(col("count") > 3).count()
      assert(over === 0)
      // within an anchor, negatives are distinct
      val dup = n.groupBy(col("anchor"), col("neg_id")).count()
        .filter(col("count") > 1).count()
      assert(dup === 0)
    } finally { n.unpersist(); pairs.unpersist() }
  }

  test("stream_retention is bit-identical to the batch cohort matrix") {
    // the state is the distinct (user, day) relation and distinct is
    // mergeable, so the streamed readout must match the batch EXACTLY
    val b = BehaviorQueries.retentionCohorts(spark, dir).collect()
    val st = StreamingRetentionQueries.streamRetention(spark, dir)
      .collect()
    assert(st.map(_.toString).sorted.toSeq ===
      b.map(_.toString).sorted.toSeq)
  }

  test("stream_dq is bit-identical to the batch rule audit") {
    val b = ProfileQueries.dqRules(spark, dir).collect()
    val st = StreamingDqQueries.streamDq(spark, dir).collect()
    assert(st.map(_.toString).sorted.toSeq ===
      b.map(_.toString).sorted.toSeq)
  }

  test("quantile_bins partitions each group into even ordered tiles") {
    val q = ProfileQueries.quantileBins(spark, dir).collect()
    val byFlag = q.groupBy(_.getAs[String]("l_returnflag"))
    val li = graft.core.Tables(spark, dir, "lineitem")
    byFlag.foreach { case (flag, rows) =>
      assert(rows.map(_.getAs[Int]("tile")).sorted.toSeq === (1 to 10))
      val expect = li.filter(col("l_returnflag") === flag).count()
      assert(rows.map(_.getAs[Long]("n")).sum === expect)
      // even: max tile size - min tile size <= 1
      val ns = rows.map(_.getAs[Long]("n"))
      assert(ns.max - ns.min <= 1)
      // bucket ranges ordered and non-overlapping
      val sorted = rows.sortBy(_.getAs[Int]("tile"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Double]("hi") <= b.getAs[Double]("lo"))
        case _ =>
      }
    }
  }

  test("cohort_ltv curves are cumulative per cohort") {
    val c = BehaviorQueries.cohortLtv(spark, dir).collect()
    c.groupBy(_.getAs[java.sql.Timestamp]("cohort")).foreach {
      case (_, rows) =>
        val s = rows.sortBy(_.getAs[Long]("day_offset"))
        val revs = s.map(_.getAs[Double]("cum_revenue"))
        assert(revs.zip(revs.tail).forall { case (a, b) => b >= a })
        s.foreach(r => assert(math.abs(r.getAs[Double]("ltv") -
          r.getAs[Double]("cum_revenue") /
            r.getAs[Long]("cohort_size")) < 1e-9))
    }
  }

  test("experiment A/A contrast does not reject") {
    // split arm-A users into two pseudo-arms by a SECOND independent
    // hash; the machinery must report p > 0.01 for every event type on
    // null data (a manufactured rejection would mean the arms leak)
    import graft.functions.WelchTTest.welch_t
    val h1 = (conv(substring(md5(col("user_id").cast("string")), 1, 15),
      16, 10).cast("long") % 2) === 0
    val h2 = (conv(substring(md5(concat(lit("aa:"),
      col("user_id").cast("string"))), 1, 15), 16, 10)
      .cast("long") % 2) === 0
    val um = Events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(avg(col("value")).as("um"))
      .filter(h1)
      .withColumn("arm", h2)
    val res = um.groupBy(col("event_type"))
      .agg(
        avg(when(col("arm"), col("um"))).as("m_a"),
        avg(when(!col("arm"), col("um"))).as("m_b"),
        stddev_samp(when(col("arm"), col("um"))).as("s_a"),
        stddev_samp(when(!col("arm"), col("um"))).as("s_b"),
        count(when(col("arm"), 1)).cast("double").as("n_a"),
        count(when(!col("arm"), 1)).cast("double").as("n_b"))
      .withColumn("w", welch_t(col("m_a"), col("s_a"), col("n_a"),
        col("m_b"), col("s_b"), col("n_b")))
      .select(col("w.p").as("p")).collect()
    res.foreach(x => assert(x.getAs[Double]("p") > 0.01))
  }
}
