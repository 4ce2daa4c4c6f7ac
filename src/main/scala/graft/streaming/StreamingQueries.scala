package graft.streaming

import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}

/** Keyed running-aggregate state row (top-level for codegen access). */
case class UserStats(user_id: Long, n: Long, sum: Double, max: Double)

/** Structured Streaming surface over the `events` table (SURVEY §2.9 — the
  * reference is all-batch; its hand-rolled 1000-bioproject block loop,
  * main/mwas_general.py:601-614, is the closest analogue and is replaced
  * wholesale by the micro-batch engine).
  *
  * Every query runs `readStream` → transform → memory sink with
  * `Trigger.AvailableNow`, awaits termination, and returns the sink table —
  * deterministic replay, so DuckDB can oracle the result as a batch query
  * over the same parquet. On a cluster the same plans run unbounded (kafka/
  * file source, rate-limited micro-batches); state stores partition by the
  * grouping key, so scale-out is the usual shuffle story.
  *
  * Watermark note: with a single input file AvailableNow yields one
  * micro-batch, and the watermark only advances BETWEEN batches — so
  * append-mode windowed aggregation would emit nothing. Aggregations here
  * use complete mode on purpose; `dropDuplicatesWithinWatermark` emits
  * per-batch regardless, so it demonstrates the watermark API correctly.
  */
object StreamingQueries {

  /** Collision-resistant tag for a dataset path — scratch/staging dir
    * names embed this instead of `String.hashCode` (two distinct dirs
    * with colliding 32-bit hashes in one JVM would wipe each other's
    * live state at create time; an 8-byte md5 prefix makes that
    * practically impossible). */
  private[graft] def pathTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString

  /** (min, max) of a LONG key column, or None when the relation is
    * empty — the shared guard for the id-range batch splitters (a bare
    * `Array(min, max)` destructure casts SQL NULL to 0L silently, and
    * downstream consumers then stage nonsense batches). */
  private[graft] def idRange(df: DataFrame, keyCol: String)
      : Option[(Long, Long)] = {
    val r = df.agg(min(col(keyCol).cast("long")),
      max(col(keyCol).cast("long"))).head()
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** Stage a relation as three deterministic batches split by thirds of
    * a LONG key column — the incremental-maintenance suite's shared
    * front (the key must be ordered consistently with the semantics the
    * consumer assumes; for the event store that is arrival order). */
  private[graft] def stageThirds(name: String, df: DataFrame,
      keyCol: String): java.io.File = {
    // cast before the agg so an int-typed key column (a fixture
    // regenerated with int32 keys) stages instead of ClassCastException
    val (kMin, kMax) = idRange(df, keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"stageThirds($name): input relation is empty — nothing to stage"))
    val b1 = kMin + (kMax - kMin) / 3
    val b2 = kMin + 2 * (kMax - kMin) / 3
    stageBatches(name,
      Seq(df.filter(col(keyCol) <= b1),
        df.filter(col(keyCol) > b1 && col(keyCol) <= b2),
        df.filter(col(keyCol) > b2)))
  }

  /** Fresh scratch dir `<tmpdir>/<name>_<pid>`, wiped on create and
    * removed on JVM exit. The pid suffix matters: with a FIXED name, two
    * concurrent JVMs running the suite would share one dir, and the
    * first to exit would delete it (cleanOnExit) out from under the peer
    * mid-stream; the pid scopes both the create-time wipe and the
    * exit-hook delete to this process. Crash leftovers die at the next
    * same-pid reuse or tmpdir cleanup — the usual trade for crash-only
    * debris. */
  private def pidScoped(name: String): java.io.File = {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${name}_${ProcessHandle.current().pid()}")
    org.apache.commons.io.FileUtils.deleteQuietly(base)
    base.mkdirs()
    graft.core.TempDirs.cleanOnExit(base.toPath)
    base
  }

  /** Per-run scratch base for a query's stores over dataset `dir`
    * (`<name>_<pathTag(dir)>_<pid>`, the [[pidScoped]] lifecycle), so
    * no harness restates the wipe + exit-hook discipline (the r13
    * TempDirs hook-registration bug lived in exactly that kind of
    * restated boilerplate). */
  private[graft] def scratchDir(name: String, dir: String): java.io.File =
    pidScoped(name + "_" + pathTag(dir))

  /** The replay source over a staging dir: one staged file per
    * micro-batch, in pinned-mtime order. */
  private def stagedSource(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      staging: java.io.File): DataFrame =
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staging.toString)

  /** Drive the staged batches through `f` one micro-batch at a time
    * (maxFilesPerTrigger=1 + AvailableNow) and block to completion —
    * the deterministic-replay driver every maintenance query shares. */
  private[graft] def runBatches(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      staging: java.io.File)(f: DataFrame => Unit): Unit =
    runBatchesWithId(s, schema, staging)((batch, _) => f(batch))

  /** [[runBatches]] with the micro-batch id handed through — for
    * harnesses whose state writes are batchId-keyed (the
    * replay-idempotence discipline). */
  private[graft] def runBatchesWithId(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      staging: java.io.File)(f: (DataFrame, Long) => Unit): Unit =
    stagedSource(s, schema, staging)
      .writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
        f(batch, bid); ()
      }.trigger(Trigger.AvailableNow()).start().awaitTermination()

  /** Run `body` with `spark.sql.shuffle.partitions` set to `width` on
    * `s` (left as is when None), restoring the previous value after.
    * A stateful stream's width is frozen into its checkpoint when the
    * query starts, so scoping the conf around start() pins it; a
    * foreachBatch body runs sequentially on the driver, so scoping it
    * per trigger is safe too. */
  private[graft] def withShufflePartitions[T](s: SparkSession,
      width: Option[String])(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    def pin(w: String): Unit = s.conf.set("spark.sql.shuffle.partitions", w)
    width.foreach(pin)
    try body finally pin(prev)
  }

  /** Run `stream` to completion into a fresh memory sink
    * (`Trigger.AvailableNow`) at shuffle width `width`, and return the
    * sink table. */
  private def runToMemory(s: SparkSession, outputMode: String,
      width: Option[String])(stream: => DataFrame): DataFrame = {
    val name = "stream_" + UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(s, width) {
      stream.writeStream.format("memory").queryName(name)
        .outputMode(outputMode).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    }
    s.table(name)
  }

  /** An empty relation of a DDL schema — the seed of state that no
    * trigger has written yet. */
  private[graft] def emptyFrame(ss: SparkSession, ddl: String): DataFrame =
    ss.createDataFrame(ss.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Release the blocks of an eager `localCheckpoint`. `Dataset.unpersist`
    * does not: the checkpoint lives on the RDD under the frame's
    * LogicalRDD leaf, not in the cache manager (on Spark 4.1.2 the
    * persistent-RDD count stays put after `unpersist(true)`). A frame
    * that is not a checkpoint is left alone. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** A batchId-keyed parquet store: each trigger writes its own `b<id>`
    * subdir with overwrite, so a replayed micro-batch lands on its own
    * path instead of double-appending (partial sums are not
    * replay-invariant) — the durable, replay-idempotent append. */
  private[graft] final case class BatchStore(root: String) {
    def write(df: DataFrame, bid: Long): Unit =
      df.write.mode("overwrite").parquet(s"$root/b$bid")

    /** Every EARLIER trigger's rows, or None before the first write. The
      * trigger's own subdir is excluded: a replayed trigger would
      * otherwise probe (or anti-join) its batch against its own prior
      * write. */
    def prior(ss: SparkSession, bid: Long): Option[DataFrame] = {
      val dirs = Option(new java.io.File(root).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName != s"b$bid").map(_.getPath)
      if (dirs.isEmpty) None else Some(ss.read.parquet(dirs: _*))
    }

    /** Every trigger's rows. recursiveFileLookup (not a /b* glob) reads
      * the keyed subdirs, and the existing parent dir keeps the
      * FileStreamSink.hasMetadata probe from logging a spurious
      * FileNotFoundException trace. */
    def readAll(s: SparkSession): DataFrame =
      s.read.option("recursiveFileLookup", "true").parquet(root)
  }

  /** Derived state carried in memory across the triggers of one stream
    * (a contracted component mapping, a top-k heap remnant, a merged
    * sufficient-statistics relation): each advance hands in the next
    * version as an eager `localCheckpoint` and releases the superseded
    * one, so the block manager holds one version per stream however many
    * triggers run.
    *
    * Durability contract: local mode only. The blocks live in the block
    * manager, so an executor loss loses them, and a checkpoint has no
    * lineage to recompute from: the readout would fail. Within that
    * contract nothing durable is needed, because the state is derived:
    * a replayed trigger recomputes it from the staged batches and the
    * stream's idempotent batchId-keyed store ([[BatchStore]]); for the
    * component mappings re-contracting with the same pairs is also the
    * identity, so a replay on top of the advanced version is safe. Off
    * local mode the state belongs in a reliable checkpoint or a store.
    *
    * Triggers run strictly sequentially under AvailableNow; the slot is
    * volatile because foreachBatch runs on the stream thread while the
    * caller reads the final version on its own. */
  private[graft] final class CarriedState {
    @volatile private var cur: Option[DataFrame] = None

    /** The current version; None before the first advance. */
    def current: Option[DataFrame] = cur

    /** Install `next` (an eager checkpoint) and release the version it
      * supersedes. */
    def advance(next: DataFrame): Unit = {
      val prev = cur
      cur = Some(next)
      prev.foreach(releaseCheckpoint)
    }

    /** The final version re-based onto the outer session `s`: it was
      * built on the micro-batch session clone, and its checkpointed rows
      * carry over via the shared SparkContext. */
    def on(s: SparkSession): DataFrame = {
      val m = cur.getOrElse(throw new IllegalStateException(
        "no trigger advanced the carried state"))
      s.createDataFrame(m.rdd, m.schema)
    }

    /** Release the final version once nothing reads it. */
    def release(): Unit = {
      cur.foreach(releaseCheckpoint)
      cur = None
    }
  }

  /** Stage pre-split batches as single parquet files with ASCENDING
    * pinned mtimes, so a `maxFilesPerTrigger=1` file source replays them
    * as deterministic micro-batches in order. Shared by every multi-batch
    * streaming harness (append-window, incremental MWAS). Returns the
    * staging directory (`<name>_<pid>`, the [[pidScoped]] lifecycle). */
  private[graft] def stageBatches(name: String,
      batches: Seq[DataFrame]): java.io.File = {
    val staging = pidScoped(name)
    batches.zipWithIndex.foreach { case (batch, i) =>
      val k = i + 1
      val tmp = new java.io.File(staging, s"_stage_$k")
      batch.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(staging, s"batch_$k.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
      // mtimes pin the file-source processing order to batch order; an
      // unsupported filesystem must fail LOUDLY — silently
      // wall-clock-ordered batches would make watermark advancement (and
      // so per-batch emission) nondeterministic
      require(dst.setLastModified(1000000L + k * 60000L),
        s"setLastModified unsupported on ${dst.getAbsolutePath}; " +
          "cannot pin deterministic micro-batch order")
    }
    staging
  }

  /** Run a streaming transform of the events file source to completion and
    * return the collected sink table.
    *
    * The `ts` encoding is probed per-file by [[graft.core.Events.codec]]
    * (the generator has shipped both int64-nanos and timestamp[us]); the
    * codec supplies the raw schema for the file source and the transform
    * that normalizes `ts` to session-zone `TimestampType`. */
  private def runAvailableNow(s: SparkSession, dir: String,
      outputMode: String)(f: DataFrame => DataFrame): DataFrame = {
    val codec = graft.core.Events.codec(s, dir)
    // the file source insists on a directory: stream the sf dir, glob down
    // to the events file
    val src = codec.normalize(s.readStream.schema(codec.schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    // A stateful stream's shuffle width is frozen into its state store
    // at first run and Structured Streaming has no AQE — so the width
    // must be the STATE-sized one, never a batch-analytics width the
    // session happens to carry (under ClusterProfile's 100 TB knobs the
    // inherited 819200 would schedule 819200 real state tasks per
    // micro-batch). ClusterProfile publishes the state width as
    // spark.graft.stream.statePartitions; absent (the unprofiled
    // bench/Verify posture) the session width stands, unchanged.
    runToMemory(s, outputMode,
      s.conf.getOption("spark.graft.stream.statePartitions"))(f(src))
  }

  /** Q24: tumbling 1-hour windows × event_type. */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    runAvailableNow(s, dir, "complete") { src =>
      src.groupBy(col("event_type"), window(col("ts"), "1 hour")).count()
    }.select(col("event_type"), col("window.start").as("window_start"),
        col("count").as("n"))
      .orderBy(col("event_type"), col("window_start"))

  val tumblingSql: String =
    """SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2 ORDER BY event_type, window_start""".stripMargin

  /** Sliding 2-hour windows every hour — each event lands in 2 windows. */
  def sliding(s: SparkSession, dir: String): DataFrame =
    runAvailableNow(s, dir, "complete") { src =>
      src.groupBy(col("event_type"), window(col("ts"), "2 hours", "1 hour"))
        .count()
    }.select(col("event_type"), col("window.start").as("window_start"),
        col("count").as("n"))
      .orderBy(col("event_type"), col("window_start"))

  val slidingSql: String =
    """SELECT event_type, ws AS window_start, CAST(count(*) AS BIGINT) AS n
      |FROM (
      |  SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws
      |  FROM events
      |  UNION ALL
      |  SELECT event_type,
      |         time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'
      |  FROM events)
      |GROUP BY 1, 2 ORDER BY event_type, window_start""".stripMargin

  /** Session windows per user: events merge while gaps stay under 30
    * minutes; the window is [first, last + gap). */
  def sessions(s: SparkSession, dir: String): DataFrame =
    runAvailableNow(s, dir, "complete") { src =>
      src.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
    }.select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), round(col("sum_value"), 6).as("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts >= lag(ts) OVER w + INTERVAL '30 minutes'
      |           OR lag(ts) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |numbered AS (
      |  SELECT user_id, ts, value,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM marked)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL '30 minutes' AS session_end,
      |       CAST(count(*) AS BIGINT) AS n,
      |       round(sum(value), 6) AS sum_value
      |FROM numbered GROUP BY user_id, session_id
      |ORDER BY user_id, session_start""".stripMargin

  /** Stateful streaming dedup keyed on (user_id, event_type) with a
    * watermark bounding the dedup state. Output keeps only the key columns
    * so the result is deterministic under parallel file-split arrival. */
  def dedup(s: SparkSession, dir: String): DataFrame =
    runAvailableNow(s, dir, "append") { src =>
      src.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }.orderBy(col("user_id"), col("event_type"))

  val dedupSql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Custom keyed state via flatMapGroupsWithState: a per-user running
    * aggregate (count, sum, max) the built-in operators could also express
    * — chosen deliberately so DuckDB can oracle the custom-state path
    * exactly. State lives in the state store keyed by user_id; on a
    * cluster this scales like any keyed shuffle. */
  def runningStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = runAvailableNow(s, dir, "update") { src =>
      src.selectExpr("user_id", "value")
        .as[(Long, Double)]
        .groupByKey(_._1)
        .flatMapGroupsWithState[UserStats, UserStats](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          case (uid, rows, state) =>
            var st = state.getOption.getOrElse(UserStats(uid, 0L, 0.0,
              Double.NegativeInfinity))
            rows.foreach { case (_, v) =>
              st = UserStats(uid, st.n + 1, st.sum + v, math.max(st.max, v))
            }
            state.update(st)
            Iterator.single(st)
        }.toDF()
    }
    // update mode re-emits a key per micro-batch; keep the final state
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("n").desc)
    out.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("user_id"), col("n"), round(col("sum"), 6).as("sum_value"),
        round(col("max"), 6).as("max_value"))
      .orderBy(col("user_id"))
  }

  val runningStatsSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(value), 6) AS sum_value,
      |       round(max(value), 6) AS max_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The PRODUCTION streaming path the complete-mode queries above can't
    * exercise: watermarked windowed aggregation in APPEND mode, where a
    * window is emitted exactly once — when the watermark passes its end —
    * and its state is dropped. Multiple micro-batches are forced by
    * staging the events into 3 time-ordered files (deterministic ntile
    * split, ascending modification times) and `maxFilesPerTrigger=1`, so
    * the watermark genuinely advances BETWEEN batches; AvailableNow's
    * final no-data batch advances it to max(ts) − delay and flushes every
    * closed window. Late windows (end > final watermark) are correctly
    * withheld — the DuckDB oracle applies the same cutoff. */
  def appendWindow(s: SparkSession, dir: String): DataFrame = {
    // staged batches are re-written by Spark below, so only this first
    // read needs the schema-adaptive codec; the staged files always carry
    // canonical TimestampType
    val ev = graft.core.Events(s, dir)
    // deterministic 3-way time split by range boundaries from one min/max
    // aggregate (two scalars to the driver) — NOT a global-window ntile,
    // which would funnel the whole table through a single-partition sort;
    // range filters keep every stage fully parallel. Uneven thirds are
    // fine: the append-mode emission set depends only on the FINAL
    // watermark, the split merely forces multiple micro-batches.
    val (tsMin, tsMax) = {
      val r = ev.agg(min(col("ts")).cast("long"),
        max(col("ts")).cast("long")).head()
      if (r.isNullAt(0)) throw new IllegalArgumentException(
        "empty input relation: nothing to stream")
      (r.getLong(0), r.getLong(1))
    }
    val b1 = tsMin + (tsMax - tsMin) / 3
    val b2 = tsMin + 2 * (tsMax - tsMin) / 3
    val ranges: Seq[org.apache.spark.sql.Column] = Seq(
      col("ts").cast("long") < b1,
      col("ts").cast("long") >= b1 && col("ts").cast("long") < b2,
      col("ts").cast("long") >= b2)
    val staging = stageBatches(
      "graft_stream_append_" + pathTag(dir),
      ranges.map(ev.filter))
    // 4 micro-batches × state-store commits per partition: size the state
    // partitioning to the key cardinality (|event_type| × open windows),
    // not the relational default — same scoped-conf pattern as the
    // stream-stream join (partition count is fixed into the checkpoint)
    runToMemory(s, "append", Some("8")) {
      stagedSource(s, ev.schema, staging).withWatermark("ts", "10 minutes")
        .groupBy(col("event_type"), window(col("ts"), "1 hour"))
        .count()
    }.select(col("event_type"), col("window.start").as("window_start"),
        col("count").as("n"))
      .orderBy(col("event_type"), col("window_start"))
  }

  /** Windows with end <= max(ts) − 10 min are exactly the ones append
    * mode emits by the final no-data batch. */
  val appendWindowSql: String =
    """SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS window_start,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY 1, 2
      |HAVING time_bucket(INTERVAL '1 hour', min(ts)) + INTERVAL '1 hour'
      |       <= (SELECT max(ts) - INTERVAL '10 minutes' FROM events)
      |ORDER BY event_type, window_start""".stripMargin

  /** Stream-stream interval join — the attribution query every event
    * pipeline runs: purchases joined to a SAME-USER click at most 30
    * minutes earlier. Two independent watermarked sources; the range
    * predicate in the join condition is what lets the state store expire
    * buffered rows (without it, both sides buffer forever). Inner join, so
    * the emitted set equals the batch join — DuckDB-oracled exactly. On a
    * cluster the state partitions by the equi-key (user), the usual
    * shuffle story. */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val codec = graft.core.Events.codec(s, dir)
    def src(): DataFrame = codec.normalize(s.readStream.schema(codec.schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val joined = clicks.join(purchases,
      expr("""c_user = p_user AND
              purchase_ts >= click_ts AND
              purchase_ts <= click_ts + interval 30 minutes"""))
    // a stream-stream join keeps FOUR state stores per shuffle partition
    // (key→count + key+index→row, each side); size the state partitioning
    // to the key cardinality instead of inheriting the relational default —
    // store-commit overhead, not data volume, dominates otherwise.
    runToMemory(s, "append", Some("8"))(joined)
      .select(col("c_user").as("user_id"), col("click_id"),
        col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_micros"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val intervalJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_micros
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '30 minutes'
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, Option[String])] =
    Seq(
      ("stream_interval_join", intervalJoin _, Some(intervalJoinSql)),
      ("stream_tumbling", tumbling _, Some(tumblingSql)),
      ("stream_sliding", sliding _, Some(slidingSql)),
      ("stream_sessions", sessions _, Some(sessionsSql)),
      ("stream_dedup", dedup _, Some(dedupSql)),
      ("stream_running_stats", runningStats _, Some(runningStatsSql)),
      ("stream_append_window", appendWindow _, Some(appendWindowSql)))
}
