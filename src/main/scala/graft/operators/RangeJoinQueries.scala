package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Events

/** Non-equi (range) joins at scale.
  *
  * Spark plans a join whose only predicate is a range condition
  * (`p.ts BETWEEN i.lo AND i.hi`) as BroadcastNestedLoopJoin — every
  * point is compared against EVERY interval, O(|points|·|intervals|)
  * regardless of how few pairs actually overlap. That is the canonical
  * scale killer for point-in-interval analytics (concurrency counts,
  * event-to-window attribution, time-travel lookups). The fix Spark
  * itself does not ship (Databricks exposes it as the range-join hint;
  * Flink/kdb call it interval joins) is BINNING: chop time into
  * fixed-width bins, replicate each interval into the bins it spans,
  * route each point to its single bin, and equi-join on the bin id —
  * Catalyst then plans a plain shuffle/broadcast HASH join and the
  * range predicate only runs on bin-local candidates.
  *
  * Cost model, stated so the 100 TB posture is checkable: replication
  * factor per interval is `1 + span/binWidth` (≈ 1–2 rows/session at
  * the fixture's sub-30-min sessions vs 1 h bins), candidate volume is
  * Σ_bin |points_bin|·|intervals_bin| — linear in data for bounded
  * concurrency, vs the naive arm's unconditional |P|·|I|. The knobs and
  * their levers: bin width trades replication against candidate
  * density (set it near the median interval span); a hot bin (flash
  * crowd) is a skewed equi-join key, and the lever hierarchy was
  * MEASURED, not assumed (NOTES_r12 skew lab: 1M events with HALF inside
  * one hour, broadcast disabled to force the shuffle-join regime):
  * explicit 16-way salting (points keep one salt, intervals replicate)
  * runs the hot-key join in 13.2 s stable, while AQE's skew-join split
  * did NOT rescue it — 139 s median with 67–163 s spread, no better
  * than skew-split-off (77 s median). When one KEY carries half of both
  * sides, partition-splitting is not enough; salt first, keep AQE for
  * the partition-level imbalance it is built for. Throughput measured
  * (NOTES_r12 range-join A/B, local[32], order-balanced
  * medians, full-output noop consumption): sf0.1 events (100k) naive
  * 16.91 s / binned 2.37 s = 7.1×; 10× (1M events, 950k intervals)
  * naive 526 s first rep → DNF at the 300 s cap / binned 4.75 s
  * (>110×); 30× (3M events) binned 7.18 s, naive skipped (unrunnable,
  * ~9× its 10× cost); 100× (10M events) binned 69.2 s. The decade table
  * is attributed, not guessed (NOTES_r12): TRUE qualifying pairs
  * are 3.17M → 28.3M → 331M across 10×/30×/100× — the genev direction
  * grows users, so instantaneous concurrency (and with it the answer's
  * own size) grows ~quadratically — and binned wall tracks that
  * irreducible Ω(qualifying pairs) term. The naive arm's |P|·|I| at
  * 100× is 2·10¹³, sixty-thousand-fold the qualifying volume. Bin
  * width controls only the false-candidate factor (~2–3× at 1 h bins
  * over sub-30-min sessions).
  *
  * `range_join_binned`: for every error event, the number of user
  * sessions (gaps-and-islands spans from the shared
  * [[WarehouseQueries.sessionSpans]] relation — the gap rule cannot
  * drift between the sessionizer and this consumer) active at that
  * instant, plus how many of those sessions carry ≥ 5 events. A pure
  * range predicate — deliberately NO user equality, so the join really
  * is non-equi. The DuckDB oracle states the same join naively (its
  * IEJoin handles the quadratic form at oracle scale), so the binned
  * decomposition is hash-checked against the direct spelling.
  *
  * Correctness of the decomposition: a point lands in exactly ONE bin
  * (`t div W`), and an interval covers every bin in
  * `[lo div W, hi div W]`; `lo ≤ t ≤ hi` implies `lo div W ≤ t div W ≤
  * hi div W` (div is monotone on the non-negative µs domain), so every
  * qualifying pair co-locates in the point's bin — no pair is produced
  * twice (one bin per point) and none is missed. The LEFT join keeps
  * zero-overlap points with n_active = 0 (count of the interval side's
  * key, null on no match).
  */
object RangeJoinQueries {

  private val BinUs = 3600L * 1000000L // 1 h bins vs ≤30-min gap sessions

  def rangeJoinBinned(s: SparkSession, dir: String): DataFrame = {
    val spans = WarehouseQueries.sessionSpans(s, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"),
        col("n_events"))
      // sequence() is inclusive on both ends — exactly [lo div W, hi div W]
      .withColumn("bin",
        explode(sequence(expr(s"lo div $BinUs"), expr(s"hi div $BinUs"))))
    val pts = Events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"),
        unix_micros(col("ts")).as("t"))
      .withColumn("bin", expr(s"t div $BinUs"))
    pts.alias("p")
      .join(spans.alias("i"),
        col("p.bin") === col("i.bin") &&
          col("p.t") >= col("i.lo") && col("p.t") <= col("i.hi"),
        "left")
      .groupBy(col("p.event_id"), col("p.ts"))
      .agg(count(col("i.user_id")).as("n_active"),
        count(when(col("i.n_events") >= 5, 1)).as("n_active_heavy"))
      .select(col("event_id"), col("ts"), col("n_active"),
        col("n_active_heavy"))
      .orderBy(col("event_id"))
  }

  /** The same join stated directly — the naive arm, used by the A/B and
    * the spec's binned≡naive identity; NOT registered as a query. */
  private[graft] def rangeJoinNaive(s: SparkSession, dir: String)
      : DataFrame = {
    val spans = WarehouseQueries.sessionSpans(s, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"),
        col("n_events"))
    val pts = Events(s, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"),
        unix_micros(col("ts")).as("t"))
    pts.alias("p")
      .join(spans.alias("i"),
        col("p.t") >= col("i.lo") && col("p.t") <= col("i.hi"), "left")
      .groupBy(col("p.event_id"), col("p.ts"))
      .agg(count(col("i.user_id")).as("n_active"),
        count(when(col("i.n_events") >= 5, 1)).as("n_active_heavy"))
      .select(col("event_id"), col("ts"), col("n_active"),
        col("n_active_heavy"))
      .orderBy(col("event_id"))
  }

  val rangeJoinBinnedSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id))
      |           > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sq AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS session_seq
      |  FROM g),
      |sp AS (
      |  SELECT user_id, epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi,
      |         count(*) AS n_events
      |  FROM sq GROUP BY user_id, session_seq),
      |e AS (SELECT event_id, ts, epoch_us(ts) AS t FROM events
      |      WHERE event_type = 'error')
      |SELECT e.event_id, e.ts,
      |       CAST(count(sp.user_id) AS BIGINT) AS n_active,
      |       CAST(count(CASE WHEN sp.n_events >= 5 THEN 1 END) AS BIGINT)
      |         AS n_active_heavy
      |FROM e LEFT JOIN sp ON e.t >= sp.lo AND e.t <= sp.hi
      |GROUP BY e.event_id, e.ts
      |ORDER BY e.event_id""".stripMargin

  /** Interval×interval overlap join, binned: for every pair of users,
    * how many of their session pairs overlapped in time (the
    * "who was online together" provenance/concurrency matrix). The
    * naive spelling is again a nested loop — worse than the point case,
    * |I|² — and the binned rewrite needs one extra idea the point case
    * does not: two overlapping intervals can share MANY bins, so the
    * pair would be emitted once per shared bin. The dedup rule: emit a
    * pair only in the bin of the LATER START, `bin =
    * greatest(lo_a, lo_b) div W`. That bin is always shared (each
    * interval contains max(lo_a, lo_b) when they overlap: lo ≤ max by
    * definition, max ≤ hi by the overlap test), and it is unique — so
    * exactly one emission per qualifying pair, proven in the spec
    * against the naive arm. `div` is monotone on the non-negative µs
    * domain, so `max(lo) div W = greatest(lo_a div W, lo_b div W)` and
    * the rule is evaluable from the two sides' precomputed start bins.
    *
    * The binned relation is localCheckpoint'd: both sides of the
    * self-join read it, and without the checkpoint the window +
    * explode subtree would plan (and execute) twice. Per-bin pair
    * fan-out is C(intervals_in_bin, 2) — bounded by concurrency, and a
    * flash-crowd bin is an ordinary skewed equi-join key (salt or let
    * AQE split it). Measured (StressFixture measureq, medians): sf0.1
    * 1.69 s → 10× events 5.67 s → 30× 36.25 s. The 10×→30× slope (6.4×
    * per 3×) is the OUTPUT's: the genev fixture grows users with
    * volume, so hourly concurrency grows linearly and the overlapping-
    * pair relation itself grows ~quadratically — the binning removed
    * the |I|² scan term; the Ω(qualifying pairs) output term is the
    * problem's own lower bound. */
  def intervalOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val binned = WarehouseQueries.sessionSpans(s, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"))
      .withColumn("lobin", expr(s"lo div $BinUs"))
      .withColumn("bin",
        explode(sequence(col("lobin"), expr(s"hi div $BinUs"))))
      .localCheckpoint()
    binned.alias("a")
      .join(binned.alias("b"),
        col("a.bin") === col("b.bin") &&
          col("a.user_id") < col("b.user_id") &&
          col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi") &&
          col("a.bin") === greatest(col("a.lobin"), col("b.lobin")))
      .groupBy(col("a.user_id").as("user_a"),
        col("b.user_id").as("user_b"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("user_a"), col("user_b"))
  }

  /** Naive arm for the spec's binned≡naive identity; not registered. */
  private[graft] def intervalOverlapNaive(s: SparkSession, dir: String)
      : DataFrame = {
    val spans = WarehouseQueries.sessionSpans(s, dir)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("lo"),
        unix_micros(col("session_end")).as("hi"))
    spans.alias("a")
      .join(spans.alias("b"),
        col("a.user_id") < col("b.user_id") &&
          col("a.lo") <= col("b.hi") && col("b.lo") <= col("a.hi"))
      .groupBy(col("a.user_id").as("user_a"),
        col("b.user_id").as("user_b"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("user_a"), col("user_b"))
  }

  val intervalOverlapJoinSql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
      |           (PARTITION BY user_id ORDER BY ts, event_id))
      |           > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sq AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS session_seq
      |  FROM g),
      |sp AS (
      |  SELECT user_id, epoch_us(min(ts)) AS lo, epoch_us(max(ts)) AS hi
      |  FROM sq GROUP BY user_id, session_seq)
      |SELECT a.user_id AS user_a, b.user_id AS user_b,
      |       CAST(count(*) AS BIGINT) AS n_overlaps
      |FROM sp a JOIN sp b
      |  ON a.user_id < b.user_id AND a.lo <= b.hi AND b.lo <= a.hi
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("range_join_binned", rangeJoinBinned _, Some(rangeJoinBinnedSql)),
      ("interval_overlap_join", intervalOverlapJoin _,
        Some(intervalOverlapJoinSql)))
}
