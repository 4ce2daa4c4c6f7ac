package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 at a
  * root. Spark-job spans carry their SQL call site as `name`. */
final case class Span(id: Int, parent: Int, trace: String, name: String,
    kind: String, start: Long, end: Long, attrs: Map[String, Double]) {
  def dur: Long = end - start
}

/** Work a Spark job did, summed over its tasks. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1
  var callSite: String = ""
  var stages = 0
  var tasks = 0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** Executed-plan facts of one SQL execution: file scans whose root path
  * contains the watched fragment, counted once per distinct cached
  * relation (a persisted plan runs once however often it is read). */
final case class PlanRec(scans: Int, cachedScans: Map[Int, Int])

/** The benchmark's own `SparkListener` + `QueryExecutionListener`: job,
  * stage and task counters and job intervals, plus plan scan counts. It
  * lives here, outside the program, and is installed only in traced
  * runs. */
final class Recorder(watchPath: String) extends SparkListener
    with QueryExecutionListener {
  private val lock = new Object
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val byJob = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val execDesc = mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      lock.synchronized { execDesc(s.executionId) = s.description }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, e.time)
    j.callSite = execDesc.getOrElse(exec,
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
    jobs += j
    byJob(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    byJob.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val cached = mutable.HashMap.empty[Int, Int]
    val direct = scans(qe.executedPlan, cached)
    lock.synchronized {
      plans += PlanRec(direct, cached.toMap)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def scans(p: SparkPlan, cached: mutable.HashMap[Int, Int]): Int =
    p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan, cached)
      case q: QueryStageExec => scans(q.plan, cached)
      case _: ReusedExchangeExec => 0 // counted where it was built
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toString.contains(watchPath))) 1
        else 0
      case m: InMemoryTableScanExec =>
        val key = System.identityHashCode(m.relation.cacheBuilder)
        if (!cached.contains(key)) {
          cached(key) = 0
          cached(key) = scans(m.relation.cachedPlan, cached)
        }
        0
      case other => (other.children ++ other.subqueries).map(scans(_, cached)).sum
    }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def remove(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Position in the job and plan logs; read after [[drain]]. */
  def mark(): (Int, Int) = lock.synchronized((jobs.size, plans.size))

  /** Jobs and executions recorded since `m`. */
  def since(m: (Int, Int)): (Seq[JobRec], Seq[PlanRec]) = lock.synchronized {
    (jobs.drop(m._1).toSeq, plans.drop(m._2).toSeq)
  }
}

object Recorder {
  /** Watched-path scans over a set of executions, each cached relation
    * counted once. */
  def scans(plans: Seq[PlanRec]): Int =
    plans.map(_.scans).sum + plans.flatMap(_.cachedScans).toMap.values.sum
}

/** In-memory span store; written out once at the end of a run. */
final class Tracer {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]

  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  /** Run `f` inside a layer span; returns its result and the span. */
  def span[T](trace: String, name: String)(f: => T): (T, Span) = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, trace, name, "layer", now(), -1, Map.empty)
    stack.push(id)
    val r = try f finally {
      stack.pop()
      spans(id) = spans(id).copy(end = now())
    }
    (r, spans(id))
  }

  /** Attach each recorded Spark job under the innermost layer span of the
    * same run that was open when the job started. */
  def adoptJobs(jobs: Seq[JobRec]): Unit = {
    val layers = spans.toList
    for (j <- jobs if j.endMs >= 0) {
      val s = j.startMs * 1000000L
      val owner = layers.filter(l => l.start <= s && s <= l.end)
        .sortBy(-_.start).headOption
      spans += Span(spans.size, owner.map(_.id).getOrElse(-1),
        owner.map(_.trace).getOrElse("spark"), j.callSite, "spark_job", s,
        j.endMs * 1000000L, Map("tasks" -> j.tasks, "stages" -> j.stages,
          "shuffle_write_bytes" -> j.shuffleWrite.toDouble,
          "executor_cpu_ns" -> j.cpuNs.toDouble))
    }
  }

  /** Span duration minus the union of its children's intervals. */
  def selfTime(s: Span): Long = s.dur - Tracer.union(
    spans.filter(_.parent == s.id).map(c => (c.start max s.start, c.end min s.end)).toSeq)

  def toJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}",""" +
      s""""name":${Json.str(s.name)},"kind":"${s.kind}","start_ns":${s.start},""" +
      s""""end_ns":${s.end},"self_ns":${selfTime(s)},"attrs":{$attrs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = curE max e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

object Json {
  def str(s: String): String = graft.core.JsonUtil.escape(s)
}
