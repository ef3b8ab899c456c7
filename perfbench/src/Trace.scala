package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval at a layer boundary. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder: spans are kept until [[write]] at exit.
  * Disabled, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  /** Off while a traced run warms caches it does not measure. */
  @volatile var muted = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled || muted) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, req, name, t0, t1) }
      }
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)
  def named(name: String): Vector[Double] = all.filter(_.name == name).map(_.ms)

  /** Self time per span name: duration minus the children it caused. */
  def selfMs: Map[String, Double] = {
    val spansNow = all
    val childNs = spansNow.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spansNow.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e6).sum
    }
  }

  def write(path: String, extra: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},""" +
          s""""req":${s.req},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      selfMs.toSeq.sortBy(_._1).foreach { case (n, ms) =>
        w.println(f"""{"self_ms":"$n","value":$ms%.4f}""")
      }
      extra.foreach(w.println)
    } finally w.close()
  }
}

/** Counters one group of jobs accumulated (client, writer, panel, …). */
final class GroupCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuMs, gcMs = 0.0
  var inputBytes, shuffleRead, shuffleWrite, spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Planning phases and files scanned, by [[SparkCounters.settle]]. */
  val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  var filesRead = 0L
}

/** Spark-side counters from public listener APIs, registered only in
  * the traced run: jobs/stages/tasks and task metrics per harness group,
  * planning phases and scan metrics per query, streaming progress.
  */
final class SparkCounters(spark: SparkSession) {
  private val groups = mutable.HashMap.empty[String, GroupCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  // per-query counts not yet settled into a group
  private val phases = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var filesRead = 0L
  var streamTriggers = 0L
  val streamMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  var streamStateRows = 0L

  def group(g: String): GroupCounts = synchronized(groups.getOrElseUpdate(g, new GroupCounts))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkCounters.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.GroupKey)))
        .getOrElse("other")
      val c = groups.getOrElseUpdate(g, new GroupCounts)
      c.jobs += 1
      c.stages += e.stageInfos.size
      e.stageIds.foreach(stageGroup(_) = g)
      jobStart(e.jobId) = (g, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkCounters.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t0) =>
        groups.getOrElseUpdate(g, new GroupCounts).jobSpans += ((t0, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkCounters.this.synchronized {
      val c = groups.getOrElseUpdate(stageGroup.getOrElse(e.stageId, "other"), new GroupCounts)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1e6
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      val files = planNodes(qe.executedPlan).flatMap(_.metrics.get("numFiles")).map(_.value).sum
      SparkCounters.this.synchronized {
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach(s => phases(k) += s.durationMs.toDouble)
        }
        filesRead += files
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkCounters.this.synchronized {
        val p = e.progress
        streamTriggers += 1
        p.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v.doubleValue }
        streamStateRows += p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

  /** Count the queries finished since the last call in `group`. A
    * query's listener event carries no job group, so callers settle
    * after each operation, while no other group is running queries.
    */
  def settle(group: String): Unit = { drain(); synchronized {
    val c = groups.getOrElseUpdate(group, new GroupCounts)
    phases.foreach { case (k, v) => c.phases(k) += v }
    c.filesRead += filesRead
    phases.clear(); filesRead = 0L
  } }

  /** Forget everything counted so far. */
  def reset(): Unit = { drain(); synchronized {
    groups.clear(); phases.clear(); filesRead = 0L
    streamTriggers = 0L; streamMs.clear(); streamStateRows = 0L
  } }
}

object SparkCounters {
  /** Local property that names the harness group of a thread's jobs.
    * Unlike the job group, which a streaming query's execution thread
    * sets to its own, threads the called code starts keep it, so a
    * stream's micro-batch jobs count in the group that started it.
    */
  val GroupKey = "perfbench.group"
}

object Jvm {
  def gcMs: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
}

/** Per-layer bookkeeping shared by the workloads' traced runs. */
object Layers {
  val ScanMetrics = Seq("tickstore.query_range_ms", "tickstore.scan_files_read",
    "tickstore.scan_bytes_read")
  val PanelMetrics = Seq("entry.build_ms", "entry.eager_jobs", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "sched.jobs", "sched.stages",
    "sched.tasks", "sched.driver_gap_ms", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.scan_bytes", "exec.files_read", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "stream.triggers", "stream.trigger_ms",
    "stream.add_batch_ms", "stream.get_batch_ms", "stream.planning_ms",
    "stream.wal_commit_ms", "stream.state_rows")
  val ServeMetrics = Seq("cli.cmd_ms", "cli.protocol_ms", "cli.spark_jobs",
    "tickstore.stats_fast_ms", "tickstore.scan_local_ms", "tickstore.rows_per_touch",
    "tickstore.files_per_symbol", "ann.session_open_ms", "bm25.session_open_ms",
    "ann.topk_cold_ms", "bm25.topk_cold_ms", "ann.topk_ms", "bm25.topk_ms",
    "hybrid.ann_ms", "hybrid.bm25_ms", "hybrid.fuse_ms")

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.contains("bytes")) "bytes"
    else "count"

  private def zero(ctx: Ctx, names: Seq[String]): Unit =
    names.foreach(n => ctx.res.put(n, 0.0, unit(n)))

  /** `serve_cold_ingest` runs no bulk scan or panel; `batch` no serving. */
  def idleScanPanel(ctx: Ctx): Unit = { zero(ctx, ScanMetrics); zero(ctx, PanelMetrics) }
  def idleServe(ctx: Ctx): Unit = { zero(ctx, ServeMetrics); ctx.res.put("jvm.gc_ms", 0.0, "ms") }

  /** Traced end-to-end figure against the untraced run's. */
  def overhead(res: Result, name: String, untraced: Double, traced: Double): Unit =
    res.line(f"overhead $name%-22s untraced $untraced%10.4f traced $traced%10.4f " +
      f"(${(traced / untraced - 1) * 100}%+.1f%%)")
}
