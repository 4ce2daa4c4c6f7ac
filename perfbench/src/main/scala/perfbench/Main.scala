package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Random, Success, Try}

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.mwas.{MwasCli, MwasIntake, MwasServer, Pipeline}
import graft.sources.CsvIo

/** One benchmark workload: the CLI flags it runs with, whether the CLI
  * reads long-form metadata (condensed on the fly) or pre-condensed sets,
  * and whether it is served by a standing `MwasServer`. */
final case class Workload(name: String, flags: Seq[String],
    longMetadata: Boolean, server: Boolean)

/** One checked job or request: its wall seconds, the CPU seconds the
  * whole process and its JIT compiler threads spent meanwhile, and the
  * checked output. */
final case class Sample(wall: Double, cpu: Double, jitCpu: Double, out: Outcome)

/** The MWAS job benchmark, run as the user runs it:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *
  * sets up, reads the inputs gen.py wrote to `<workDir>/in`, measures,
  * checks every output and prints one JSON line of metrics last.
  */
object Main {
  val Workloads: Map[String, Workload] = Seq(
    Workload("cli_perm", Nil, longMetadata = false, server = false),
    Workload("cli_ttest_x10", Seq("--only-t-test"), longMetadata = true, server = false),
    Workload("server_closed", Nil, longMetadata = false, server = true)
  ).map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = args.toList match {
    case w :: seed :: secs :: trace :: dir :: Nil =>
      new Run(Workloads(w), seed.toLong, secs.toDouble, trace == "1",
        new File(dir)).run()
    case _ =>
      System.err.println("usage: Main <workload> <seed> <seconds> <0|1> <workDir>")
      sys.exit(2)
  }

  /** Every run prints each of these: end-to-end with tracing off, per
    * layer with tracing on. A layer that a workload does not exercise
    * reads 0. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "job_cold_cpu_s" -> "s", "job_cpu_p50_s" -> "s",
    "contrasts_per_cpu_s" -> "1/s")

  val LayerMetrics: Seq[(String, String)] = Seq(
    "host.calib_ms" -> "ms", "host.calib_ops" -> "count",
    "setup.session_s" -> "s", "setup.wall_s" -> "s",
    "setup.server_ready_s" -> "s", "setup.warmup_s" -> "s",
    "intake.s" -> "s", "intake.rows" -> "count", "intake.rejected" -> "count",
    "condense.s" -> "s", "condense.factors" -> "count", "condense.sets" -> "count",
    "condense.plan_scans" -> "count",
    "normalize.s" -> "s", "normalize.state_rows" -> "count",
    "readout.s" -> "s", "readout.contrasts" -> "count", "readout.significant" -> "count",
    "readout.route_welch" -> "count", "readout.route_exact" -> "count",
    "readout.route_mc" -> "count", "readout.route_mc_early" -> "count",
    "readout.negative_means" -> "count",
    "kernel.ns_per_draw" -> "ns", "kernel.draws" -> "count",
    "kernel.ns_per_combo" -> "ns", "kernel.combos" -> "count",
    "kernel.job_cpu_s" -> "s", "kernel.cpu_share" -> "ratio",
    "sink.per_bp_s" -> "s", "sink.combined_s" -> "s", "sink.files" -> "count",
    "sink.bytes" -> "bytes",
    "cli.count_pass_s" -> "s", "cli.driver_gap_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "server.jobs_per_req" -> "count", "server.stages_per_req" -> "count",
    "server.tasks_per_req" -> "count", "server.driver_gap_ms" -> "ms",
    "server.body_kb" -> "KB",
    "req.samples" -> "count", "req.max_ms" -> "ms", "req.per_s" -> "1/s",
    "job.samples" -> "count", "job.cold_s" -> "s", "job.contrasts_per_s" -> "1/s",
    "jvm.jit_cpu_s" -> "s", "jvm.jit_share" -> "ratio",
    "trace.job_p50_s" -> "s", "trace.untraced_p50_s" -> "s", "trace.overhead" -> "ratio",
    "trace.layer_sum_s" -> "s", "trace.fused_gap_s" -> "s", "trace.spans" -> "count",
    "peak_rss_mb" -> "MB", "error_rate" -> "ratio")

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .appName("mwas")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm jobs in an untraced CLI run, at least: the JIT is still
    * compiling over the first few, so a fixed count, not the host's speed,
    * sets which jobs the median covers. */
  val WarmJobs = 2

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU time of this process (every thread), ns. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU seconds the JIT compiler threads of this process have used
    * (Linux: /proc/self/task, 10 ms ticks; 0 elsewhere). Spark compiles
    * generated code for every query, so the JIT runs in every job. */
  def jitCpuS(): Double =
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File]).map { t =>
      Try {
        val comm = new String(Files.readAllBytes(new File(t, "comm").toPath)).trim
        if (!comm.matches("C[12] CompilerThre.*")) 0L else {
          val st = new String(Files.readAllBytes(new File(t, "stat").toPath))
          val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong // utime + stime
        }
      }.getOrElse(0L)
    }.sum / 100.0

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    Try(Files.readAllLines(new File("/proc/self/status").toPath).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)
}

/** One measured run of one workload. */
final class Run(w: Workload, seed: Long, seconds: Double, trace: Boolean,
    work: File) {
  import Main._

  // loaded on first use, so that a CLI set-up does not read the
  // generator's expectations
  private lazy val in: Inputs = Inputs.load(new File(work, "in"))
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var attempted = 0
  private var failed = 0
  private val tracer = new Tracer
  private lazy val rec = new Recorder(
    if (w.longMetadata) new File(in.metadataLong).getName else "\u0000")
  private var spark: SparkSession = _
  private val digests = mutable.HashMap.empty[String, String]
  private var server: HttpServer = _
  private var warmup: Option[Sample] = None

  private def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Record an outcome; a digest that differs from the first one seen
    * for the same key (the run, or a bioproject) is a wrong output. */
  private def accept(key: String, o: Either[String, Outcome]): Option[Outcome] =
    o match {
      case Left(msg) => fail(msg); None
      case Right(out) =>
        val first = digests.getOrElseUpdate(key, out.digest)
        if (first != out.digest) { fail(s"digest of $key changed"); None }
        else Some(out)
    }

  /** The set-up a user pays before the first job: from JVM start until
    * the session is built and, for the server, until it has started and
    * answered one warm-up request (its catalog and sets are lazy).
    * Returns the CPU seconds the process spent on it; its wall time is a
    * per-layer metric. */
  private def setup(): Double = {
    spark = session(work)
    layer("setup.session_s") = (sinceJvmStart(), "s")
    if (w.server) server = serve()
    layer("setup.wall_s") = (sinceJvmStart(), "s")
    val cpu = cpuNs() / 1e9
    System.err.println(f"[perfbench] setup: ${layer("setup.wall_s")._1}%.3f s, cpu $cpu%.3f s")
    cpu
  }

  def run(): Unit = {
    e2e("setup_s") = (setup(), "s")
    val (calib0, calibOps) = Kernel.calib()
    if (w.server) runServer() else runCli()
    val (calib1, _) = Kernel.calib()
    layer("host.calib_ms") = ((calib0 + calib1) / 2, "ms")
    layer("host.calib_ops") = (calibOps.toDouble, "count")
    // host weather for every run, traced or not, outside the metrics
    println(s"""{"host":{"calib_ms":${layer("host.calib_ms")._1},"calib_ops":$calibOps}}""")
    layer("error_rate") = (failed.toDouble / math.max(attempted, 1), "ratio")
    layer("peak_rss_mb") = (peakRssMb(), "MB")
    if (trace) {
      rec.drain(spark)
      tracer.adoptJobs(rec.jobs.toSeq)
      layer("trace.spans") = (tracer.spans.size.toDouble, "count")
      Files.write(new File(work, "spans.json").toPath,
        tracer.toJson.getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()
    val metrics = (if (trace) LayerMetrics else EndToEnd).map { case (k, u) =>
      val v = (if (trace) layer else e2e).get(k).map(_._1).getOrElse(0.0)
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$metrics}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  // ------------------------------------------------------------------ CLI

  private def cliArgs(out: File): Array[String] =
    Array(in.input, in.catalog, if (w.longMetadata) in.metadataLong else in.setsPath,
      out.getPath) ++ w.flags

  /** One `MwasCli.run`, checked; Some(sample) when correct. */
  private def cliJob(out: File, traceId: Option[String]): Option[Sample] = {
    attempted += 1
    val t = System.nanoTime()
    val (c, j) = (cpuNs(), jitCpuS())
    val r = traceId match {
      case Some(id) => Try(tracer.span(id, "cli.run")(MwasCli.run(spark, cliArgs(out)))._1)
      case None => Try(MwasCli.run(spark, cliArgs(out)))
    }
    val wall = secs(t)
    val (cpu, jit) = ((cpuNs() - c) / 1e9, jitCpuS() - j)
    System.err.println(f"[perfbench] cli job $attempted: $wall%.3f s, cpu $cpu%.2f s (jit $jit%.2f s)")
    r match {
      case Failure(e) => fail(s"cli job: $e"); None
      case Success((n, sig)) =>
        accept("run", Check.cliJob(out, n, sig, in)).map(o => Sample(wall, cpu, jit, o))
    }
  }

  private def runCli(): Unit = {
    val out = new File(work, "out")
    val cold = cliJob(out, None)
    e2e("job_cold_cpu_s") = (cold.map(_.cpu).getOrElse(Double.NaN), "s")
    layer("job.cold_s") = (cold.map(_.wall).getOrElse(Double.NaN), "s")

    if (!trace) {
      val warm = mutable.ArrayBuffer.empty[Sample]
      val t0 = System.nanoTime()
      var tries = 0
      while ((secs(t0) < seconds || tries < WarmJobs) && secs(t0) < 120) {
        tries += 1
        cliJob(out, None).foreach(warm += _)
      }
      println(s"[perfbench] ${warm.size} warm jobs: ${warm.map(x => f"${x.wall}%.3f").mkString(" ")} s")
      warmMetrics(cold, warm.toSeq)
    } else traceCli(out)
  }

  /** The end-to-end metrics of the warm jobs or requests, and the
    * throughput of the whole session: the cold one and the warm ones. */
  private def warmMetrics(cold: Option[Sample], warm: Seq[Sample]): Unit = {
    e2e("job_cpu_p50_s") = (median(warm.map(_.cpu)), "s")
    val all = cold.toSeq ++ warm
    e2e("contrasts_per_cpu_s") = (all.map(_.out.rows).sum / all.map(_.cpu).sum, "1/s")
  }

  /** Traced CLI run: alternating untraced/traced fused jobs (tracing
    * overhead), the fused job's Spark counters, then each layer forced on
    * its own, then the kernel microbenchmark. */
  private def traceCli(out: File): Unit = {
    val plain = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[Double]
    var firstFused: Option[(Double, Seq[JobRec], Seq[PlanRec])] = None
    def tracedJob(k: Int): Unit = {
      rec.install(spark)
      val m = rec.mark()
      val r = cliJob(out, Some(s"fused-$k"))
      rec.drain(spark)
      r.foreach(traced += _.wall)
      if (firstFused.isEmpty) r.foreach { s =>
        val (jobs, plans) = rec.since(m)
        firstFused = Some((s.wall, jobs, plans))
      }
      rec.remove(spark)
    }
    // each pair in the other order: later jobs run on warmer JIT code
    for (k <- 0 until 2) {
      if (k == 0) tracedJob(k)
      cliJob(out, None).foreach(plain += _)
      if (k == 1) tracedJob(k)
    }
    layer("job.samples") = (traced.size.toDouble, "count")
    traceMetrics(plain.toSeq, traced.toSeq)

    val (fusedWall, jobs, plans) =
      firstFused.getOrElse((Double.NaN, Seq.empty[JobRec], Seq.empty[PlanRec]))
    sparkCounters(jobs)
    layer("condense.plan_scans") = (Recorder.scans(plans).toDouble, "count")
    layer("cli.count_pass_s") = (jobs.filter(_.callSite.startsWith("count at MwasCli"))
      .map(j => (j.endMs - j.startMs) / 1e3).sum, "s")
    layer("cli.driver_gap_s") = (fusedWall - Tracer.union(
      jobs.map(j => (j.startMs * 1000000L, j.endMs * 1000000L))) / 1e9, "s")

    rec.install(spark)
    val layerSum = layered(out)
    rec.remove(spark)
    layer("trace.layer_sum_s") = (layerSum, "s")
    layer("trace.fused_gap_s") = (fusedWall - layerSum, "s")
    if (!w.longMetadata) cliServerLayer()
  }

  /** Wall metrics of the untraced warm jobs or requests of a traced run,
    * and the tracing overhead against the traced ones. */
  private def traceMetrics(plain: Seq[Sample], traced: Seq[Double]): Unit = {
    val p50 = median(plain.map(_.wall))
    layer("job.contrasts_per_s") = (plain.map(_.out.rows).sum / plain.map(_.wall).sum, "1/s")
    layer("jvm.jit_cpu_s") = (median(plain.map(_.jitCpu)), "s")
    layer("jvm.jit_share") = (plain.map(_.jitCpu).sum / plain.map(_.cpu).sum, "ratio")
    layer("trace.untraced_p50_s") = (p50, "s")
    layer("trace.job_p50_s") = (median(traced), "s")
    layer("trace.overhead") = (median(traced) / p50 - 1, "ratio")
  }

  private def sparkCounters(jobs: Seq[JobRec]): Unit = {
    def mb(x: Long) = x / 1048576.0
    layer("spark.jobs") = (jobs.size.toDouble, "count")
    layer("spark.stages") = (jobs.map(_.stages).sum.toDouble, "count")
    layer("spark.tasks") = (jobs.map(_.tasks).sum.toDouble, "count")
    layer("spark.shuffle_write_mb") = (mb(jobs.map(_.shuffleWrite).sum), "MB")
    layer("spark.shuffle_read_mb") = (mb(jobs.map(_.shuffleRead).sum), "MB")
    layer("spark.spill_mb") = (mb(jobs.map(_.spill).sum), "MB")
    layer("spark.input_mb") = (mb(jobs.map(_.input).sum), "MB")
    layer("spark.executor_run_s") = (jobs.map(_.runMs).sum / 1e3, "s")
    layer("spark.executor_cpu_s") = (jobs.map(_.cpuNs).sum / 1e9, "s")
    layer("spark.gc_s") = (jobs.map(_.gcMs).sum / 1e3, "s")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Each layer's public function called on its own, its output
    * persisted and forced with the noop sink inside its span. Returns the
    * sum of the layer spans. */
  private def layered(out: File): Double = {
    val cfg = MwasIntake.flagsToConfig(w.flags)
    val id = "layered"
    def timed[T](name: String, metric: String)(f: => T): T = {
      val (r, s) = tracer.span(id, name)(f)
      layer(metric) = (s.dur / 1e9, "s")
      r
    }
    val (_, root) = tracer.span(id, "cli.layered") {
      val input = timed("intake", "intake.s") {
        val df = CsvIo.readUserInput(spark, in.input).persist(); noop(df); df
      }
      val sets = timed("condense", "condense.s") {
        val df = MwasIntake.toSets(spark.read.parquet(
          if (w.longMetadata) in.metadataLong else in.setsPath)).persist()
        noop(df); df
      }
      val catalog = spark.read.parquet(in.catalog)
      val state = timed("normalize", "normalize.s") {
        val df = Pipeline.biosampleState(input, catalog, cfg).persist(); noop(df); df
      }
      val result = timed("readout", "readout.s") {
        val df = Pipeline.runFromBiosampleState(state, catalog, sets, cfg).persist()
        noop(df); df
      }
      timed("sink.per_bp", "sink.per_bp_s") {
        Pipeline.writePerBioproject(result, new File(out, "per_bioproject").getPath)
      }
      timed("sink.combined", "sink.combined_s") {
        Pipeline.writeCombined(result, new File(out, "combined").getPath)
      }
      // counters, outside every layer span
      attempted += 1
      val n = result.count()
      val sig = result.filter(col("status").contains("significant")).count()
      // its own digest key: a different plan may sum in another order
      accept("layered", Check.cliJob(out, n, sig, in)).foreach(readoutCounters)
      layer("intake.rows") = (input.count().toDouble, "count")
      layer("intake.rejected") = (CsvIo.readUserInputRouted(spark, in.input)
        .filter(col("reject_reason").isNotNull).count().toDouble, "count")
      layer("condense.sets") = (sets.count().toDouble, "count")
      layer("condense.factors") = (if (!w.longMetadata) 0.0 else
        sets.select(col("attributes")).collect()
          .map(_.getString(0).split("; ").length).sum.toDouble, "count")
      layer("normalize.state_rows") = (state.count().toDouble, "count")
      // the layer counters the generator knows by construction
      for ((k, want) <- Seq("intake.rows" -> in.validRows,
          "intake.rejected" -> in.rejectedRows, "condense.sets" -> in.sets)) {
        attempted += 1
        if (layer(k)._1 != want) fail(s"$k = ${layer(k)._1}, expected $want")
      }
      val (files, bytes) = Check.tree(out)
      layer("sink.files") = (files.toDouble, "count")
      layer("sink.bytes") = (bytes.toDouble, "bytes")
      kernelCost(result)
      Seq(input, sets, state, result).foreach(_.unpersist(blocking = true))
    }
    tracer.spans.filter(s => s.parent == root.id).map(_.dur).sum / 1e9
  }

  /** The kernel microbenchmark over up to 16 Monte-Carlo and 16 exact
    * side-size pairs of this input's permutation-routed contrasts. */
  private def kernelBench(): Kernel.KernelResult = {
    val distinct = in.permSides.distinct.sorted
    val mcSides = distinct.filter { case (n, k) => graft.stats.PermutationTest.choose(n, k) > 20000 }
    val step = math.max(1, mcSides.size / 16)
    val sample = mcSides.indices.filter(_ % step == 0).map(mcSides) ++
      distinct.filterNot(mcSides.contains).take(16)
    val (kr, _) = tracer.span("kernel", "kernel.microbench")(Kernel.microbench(sample, seed))
    layer("kernel.ns_per_draw") = (kr.nsPerDraw, "ns")
    layer("kernel.draws") = (kr.draws.toDouble, "count")
    layer("kernel.ns_per_combo") = (kr.nsPerCombo, "ns")
    layer("kernel.combos") = (kr.combos.toDouble, "count")
    kr
  }

  /** The kernel's estimated share of the readout: the distinct
    * permutation tests of the output, each costed at the measured ns per
    * draw (Monte-Carlo; the resample count is recovered from
    * p = (hits+1)/(r+1)) or per combination (exact). */
  private def kernelCost(result: DataFrame): Unit = {
    val kr = kernelBench()
    val tests = result.filter(col("status").startsWith("permutation_test"))
      .select("num_true", "num_false", "p_value", "test_statistic", "status")
      .distinct().collect()
    val ns = tests.map { r =>
      val (nt, nf, p, st) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(4))
      val k = math.min(nt, nf)
      if (st.contains("permutation_exact"))
        graft.stats.PermutationTest.choose((nt + nf).toInt, nt.toInt) * kr.nsPerCombo
      else {
        val resamples = if (!st.contains("mc_early")) 10000 else
          Seq(1000, 2000, 5000).find { r =>
            val h = p * (r + 1); math.abs(h - math.rint(h)) < 1e-6
          }.getOrElse(5000)
        resamples.toDouble * k * kr.nsPerDraw
      }
    }.sum
    layer("kernel.job_cpu_s") = (ns / 1e9, "s")
    val cpu = layer.get("spark.executor_cpu_s").map(_._1).getOrElse(0.0)
    layer("kernel.cpu_share") = (if (cpu > 0) ns / 1e9 / cpu else 0.0, "ratio")
  }

  // --------------------------------------------------------------- server

  private def post(port: Int, body: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port/run_mwas").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
      val code = conn.getResponseCode
      val is = if (code < 400) conn.getInputStream else conn.getErrorStream
      (code, new String(is.readAllBytes(), StandardCharsets.UTF_8))
    } finally conn.disconnect()
  }

  /** One closed-loop request, checked; Some(sample) when correct. */
  private def request(port: Int, bp: String): Option[Sample] = {
    attempted += 1
    val t = System.nanoTime()
    val (c, j) = (cpuNs(), jitCpuS())
    val r = Try(post(port, in.bodies(bp)))
    val lat = secs(t)
    val (cpu, jit) = ((cpuNs() - c) / 1e9, jitCpuS() - j)
    r match {
      case Failure(e) => fail(s"request: $e"); None
      case Success((code, body)) if code != 200 => fail(s"HTTP $code ${body.take(300)}"); None
      case Success((_, body)) =>
        accept(bp, Try(Check.response(body, bp, in)).fold(e => Left(e.toString), identity))
          .map(o => Sample(lat, cpu, jit, o))
    }
  }

  /** Seed-chosen request order over the bioprojects with contrasts. */
  private lazy val order: Seq[String] = new Random(seed).shuffle(
    in.perBp.toSeq.filter(_._2.contrasts > 0).map(_._1).sorted)

  /** Starts a server over the catalog and sets on this session and sends
    * it one warm-up request. */
  private def serve(): HttpServer = {
    val t0 = System.nanoTime()
    val s = MwasServer.start(spark, spark.read.parquet(in.catalog),
      MwasIntake.toSets(spark.read.parquet(in.setsPath)), 0)
    layer("setup.server_ready_s") = (secs(t0), "s")
    val t1 = System.nanoTime()
    warmup = request(s.getAddress.getPort, order.head)
    layer("setup.warmup_s") = (secs(t1), "s")
    s
  }

  /** The server set up by `setup()`: the warm-up was the cold request,
    * then a closed loop for `seconds`. */
  private def runServer(): Unit = {
    e2e("job_cold_cpu_s") = (warmup.map(_.cpu).getOrElse(Double.NaN), "s")
    layer("job.cold_s") = (warmup.map(_.wall).getOrElse(Double.NaN), "s")
    val (plain, traced) = measureServer(seconds, minRequests = 3)
    warmMetrics(warmup, plain)
    if (trace) {
      layer("job.samples") = (plain.size.toDouble, "count")
      traceMetrics(plain, traced.map(_._1.wall))
      traced.headOption.foreach { case (s, jobs) =>
        sparkCounters(jobs)
        readoutCounters(s.out)
      }
      kernelBench()
    }
  }

  /** The request layer measured from a CLI workload's traced run: a
    * server over the same catalog and sets on this session, one warm-up
    * request, then four closed-loop requests (two traced). */
  private def cliServerLayer(): Unit = {
    server = serve()
    measureServer(0, minRequests = 4)
  }

  /** Closed loop against the running server, which it then stops: one
    * client, each request sent when the previous reply arrived, cycling
    * through `order` from its second bioproject. In a traced run every
    * second request runs with the recorder installed, and the request-layer
    * metrics are recorded. Returns the untraced (latency, outcome) and
    * traced (latency, outcome, Spark jobs) samples. */
  private def measureServer(seconds: Double, minRequests: Int)
      : (Seq[Sample], Seq[(Sample, Seq[JobRec])]) = {
    val port = server.getAddress.getPort
    val plain = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[(Sample, Seq[JobRec])]
    val t0 = System.nanoTime()
    var i = 0
    try {
      while ((secs(t0) < seconds || i < minRequests) && secs(t0) < 120) {
        val bp = order((i + 1) % order.size)
        if (trace && i % 2 == 1) {
          rec.install(spark)
          val m = rec.mark()
          val r = tracer.span(s"req-$i", "server.request")(request(port, bp))._1
          rec.drain(spark)
          r.foreach(s => traced += ((s, rec.since(m)._1)))
          rec.remove(spark)
        } else request(port, bp).foreach(plain += _)
        i += 1
      }
    } finally server.stop(0)
    val lats = plain.map(_.wall).toSeq
    println(s"[perfbench] ${lats.size} requests: ${lats.map(x => f"$x%.3f").mkString(" ")} s")
    if (trace) serverLayer(lats, traced.toSeq)
    (plain.toSeq, traced.toSeq)
  }

  /** Request-layer metrics of a traced closed loop. */
  private def serverLayer(lats: Seq[Double],
      traced: Seq[(Sample, Seq[JobRec])]): Unit = {
    layer("req.samples") = (lats.size.toDouble, "count")
    layer("req.max_ms") = (if (lats.isEmpty) 0.0 else lats.max * 1e3, "ms")
    // the highest percentile with at least ten samples beyond it exists
    // only from 11 samples on
    if (lats.size >= 11) {
      val sorted = lats.sorted
      val i = sorted.size - 11
      println(f"[perfbench] request tail: p${100.0 * (i + 1) / sorted.size}%.1f = " +
        f"${sorted(i) * 1e3}%.1f ms of ${sorted.size} requests")
    }
    layer("req.per_s") = ((lats.size + traced.size) /
      (lats.sum + traced.map(_._1.wall).sum), "1/s")
    val perReq = traced.map(_._2)
    layer("server.jobs_per_req") = (median(perReq.map(_.size.toDouble)), "count")
    layer("server.stages_per_req") = (median(perReq.map(_.map(_.stages).sum.toDouble)), "count")
    layer("server.tasks_per_req") = (median(perReq.map(_.map(_.tasks).sum.toDouble)), "count")
    layer("server.driver_gap_ms") = (median(traced.map { case (s, jobs) =>
      (s.wall - Tracer.union(jobs.map(j => (j.startMs * 1000000L, j.endMs * 1000000L))) / 1e9) * 1e3
    }), "ms")
    // the first traced request's body (request 1 of the loop)
    layer("server.body_kb") = (in.bodies(order(2 % order.size)).length / 1024.0, "KB")
  }

  private def readoutCounters(o: Outcome): Unit = {
    layer("readout.contrasts") = (o.rows.toDouble, "count")
    layer("readout.significant") = (o.significant.toDouble, "count")
    layer("readout.route_welch") = (o.welch.toDouble, "count")
    layer("readout.route_exact") = (o.exact.toDouble, "count")
    layer("readout.route_mc") = (o.mc.toDouble, "count")
    layer("readout.route_mc_early") = (o.mcEarly.toDouble, "count")
    layer("readout.negative_means") = (o.negativeMeans.toDouble, "count")
  }
}
