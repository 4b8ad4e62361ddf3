package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with a fractional part; `parent` is the id of the enclosing span (0 for
  * an op's root span) and `op` the op it belongs to (op 0 is a traced
  * run's touch-every-layer op). */
final case class Span(id: Long, kind: String, name: String, startMs: Double,
    endMs: Double, op: Int, var parent: Long = 0L) {
  def ms: Double = endMs - startMs
}

/** Per-layer tracing from outside the engine: the harness times its calls
  * into each layer (`span`), and Spark's public SparkListener,
  * QueryExecutionListener and StreamingQueryListener report jobs, tasks,
  * Catalyst phases and streaming triggers. Everything is kept in memory;
  * `metrics` and `spanLines` turn it into the per-layer figures and the
  * span file at the end of the run, after the context has stopped and
  * delivered every listener event. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private var nextId = 1L
  private val clientSpans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Wall time of the op windows. */
  private var tracedWallMs = 0.0

  /** Time `body` as a span of `kind` inside the innermost open span. */
  def span[T](kind: String, name: String, op: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val start = nowMs
    stack = Span(id, kind, name, start, start, op, parent) :: stack
    try body
    finally {
      val open = stack.head
      stack = stack.tail
      val s = open.copy(endMs = nowMs)
      clientSpans += s
      if (kind == "op") tracedWallMs += s.ms
    }
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val checkStages = ConcurrentHashMap.newKeySet[Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (group == CheckGroup) e.stageIds.foreach(checkStages.add)
      else {
        val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
        jobs.put(e.jobId, JobRec(e.jobId, group, site, e.time))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitMs.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!checkStages.contains(e.stageInfo.stageId)) stagesDone.add(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!checkStages.contains(e.stageId)) {
      val info = e.taskInfo
      val submitted = Option(stageSubmitMs.get(e.stageId)).getOrElse(info.launchTime)
      val m = e.taskMetrics
      if (m == null) tasks.add(TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, true))
      else tasks.add(TaskRec(e.stageId, math.max(0L, info.launchTime - submitted),
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.peakExecutionMemory,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        info.failed || info.killed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      val graftNs = qe.tracker.rules.collect {
        case (rule, s) if rule.contains("WindowTopKRewrite") => s.totalTimeNs
      }.sum
      val write = qe.logical.exists(_.nodeName == "InsertIntoHadoopFsRelationCommand")
      qes.add(QeRec(phases, graftNs, write, durationNs / 1e6))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      triggers.add(TriggerRec(p.runId.toString,
        java.time.Instant.parse(p.timestamp).toEpochMilli, dur("triggerExecution"),
        dur("addBatch"), p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  // ---- span assembly ----

  /** All spans: the harness's own, plus Catalyst phases, jobs and streaming
    * triggers, each placed under the innermost span that was open when it
    * started. */
  private lazy val (allSpans: Seq[Span], jobSpan: Map[Int, Span]) = {
    val client = clientSpans.toSeq
    def innermost(cands: Seq[Span], t: Double, op: Int): Option[Span] =
      cands.filter(s => s.startMs <= t && t <= s.endMs && (op < 0 || s.op == op))
        .minByOption(_.ms)
    def opAt(t: Double): Int =
      innermost(client.filter(_.kind == "op"), t, -1).map(_.op).getOrElse(-1)
    var id = nextId
    def mk(kind: String, name: String, s: Double, e: Double, op: Int) = {
      id += 1; Span(id, kind, name, s, math.max(s, e), op)
    }
    val catalyst = qes.asScala.toSeq.flatMap(_.phases).map { case (n, s, e) =>
      mk("catalyst", n, s.toDouble, e.toDouble, opAt(s.toDouble)) }
      .filter(_.op >= 0) // the output checks run outside every op window
    val trig = triggers.asScala.toSeq.map { t =>
      mk("trigger", t.runId, t.startMs.toDouble, (t.startMs + t.triggerMs).toDouble,
        opAt(t.startMs.toDouble)) }
    val jobById = jobs.values.asScala.toSeq.filter(_.endMs >= 0).map { j =>
      val op = Option(j.group).filter(_.startsWith("op-"))
        .map(_.stripPrefix("op-").toInt).getOrElse(opAt(j.startMs.toDouble))
      j.id -> mk("job", j.callSite, j.startMs.toDouble, j.endMs.toDouble, op) }.toMap
    val jobSpans = jobById.values.toSeq
    catalyst.foreach(c => c.parent = innermost(client, c.startMs, c.op).map(_.id).getOrElse(0L))
    trig.foreach(t => t.parent = innermost(client, t.startMs, t.op).map(_.id).getOrElse(0L))
    jobSpans.foreach(j => j.parent =
      innermost(client ++ catalyst ++ trig, j.startMs, j.op).map(_.id).getOrElse(0L))
    (client ++ catalyst ++ trig ++ jobSpans, jobById)
  }

  /** Span duration minus the part of it its children cover. */
  private lazy val selfTimes: Map[Long, Double] = {
    val kids = allSpans.groupBy(_.parent)
    allSpans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (curS, curE) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.id -> math.max(0.0, s.ms - covered)
    }.toMap
  }

  def spanLines: Seq[String] = {
    val self = selfTimes
    allSpans.sortBy(_.startMs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}",""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""end_ms":${Json.num(s.endMs)},"self_ms":${Json.num(self(s.id))}}"""
    }
  }

  /** Per-layer figures, each a total over the run (op 0 and every pass)
    * divided by `passes`. `changedBytes` is the
    * on-disk size of one pass's DML change frames (0 when there are none). */
  def metrics(passes: Int, changedBytes: Long): Seq[(String, Double, String)] = {
    val n = math.max(1, passes).toDouble
    val mb = 1024.0 * 1024.0
    val spans = allSpans
    val self = selfTimes
    def selfOf(kind: String) = spans.filter(_.kind == kind).map(s => self(s.id)).sum
    val jobSpans = spans.filter(_.kind == "job")
    val byId = spans.map(s => s.id -> s).toMap
    def under(s: Span, p: Span => Boolean): Boolean =
      Iterator.iterate(s.parent)(id => byId.get(id).map(_.parent).getOrElse(0L))
        .takeWhile(_ != 0L).exists(id => byId.get(id).exists(p))
    val opSpans = spans.filter(_.kind == "op")
    def inOp(t: Double) = opSpans.exists(o => o.startMs <= t && t <= o.endMs)
    val schemaJobs = jobSpans.filter(_.name.contains("Tables.scala"))
    val buildJobs = jobSpans.filter(under(_, _.kind == "build"))
    val ts = tasks.asScala.toSeq
    val taskMs = ts.map(_.runMs).sum.toDouble
    val phase = spans.filter(_.kind == "catalyst").groupMapReduce(_.name)(_.ms)(_ + _)
    // query executions that started outside every op window are the checks
    val opQes = qes.asScala.toSeq.filter(_.phases.headOption.exists(p => inOp(p._2.toDouble)))
    val trig = triggers.asScala.toSeq
    val lastPerRun = trig.groupBy(_.runId).values.map(_.maxBy(_.startMs))
    val writes = opQes.filter(_.isWrite)
    // bytes the DML steps wrote: tasks whose job ran under a "dml:" span
    val dmlBytes = ts.filter { t =>
      Option(stageJob.get(t.stageId)).flatMap(j => jobSpan.get(j))
        .exists(under(_, _.name.startsWith("dml:")))
    }.map(_.outBytes).sum.toDouble
    Seq(
      ("tables.schema_jobs", schemaJobs.size / n, "count"),
      ("tables.schema_job_ms", schemaJobs.map(_.ms).sum / n, "ms"),
      ("build.ms", selfOf("build") / n, "ms"),
      ("build.jobs", buildJobs.size / n, "count"),
      ("build.job_ms", buildJobs.map(_.ms).sum / n, "ms"),
      ("catalyst.analysis_ms", phase.getOrElse("analysis", 0.0) / n, "ms"),
      ("catalyst.optimizer_ms", phase.getOrElse("optimization", 0.0) / n, "ms"),
      ("catalyst.planning_ms", phase.getOrElse("planning", 0.0) / n, "ms"),
      ("catalyst.graft_rule_ms", opQes.map(_.graftRuleNs).sum / 1e6 / n, "ms"),
      ("exec.jobs", jobSpans.size / n, "count"),
      ("exec.stages", stagesDone.size / n, "count"),
      ("exec.tasks", ts.size / n, "count"),
      ("exec.task_ms", taskMs / n, "ms"),
      ("exec.cpu_ms", ts.map(_.cpuNs).sum / 1e6 / n, "ms"),
      ("exec.gc_ms", ts.map(_.gcMs).sum / n, "ms"),
      ("exec.task_wait_ms", ts.map(_.waitMs).sum / n, "ms"),
      ("exec.busy_ratio", if (tracedWallMs > 0) taskMs / (tracedWallMs * cores) else 0.0, "ratio"),
      ("exec.shuffle_write_mb", ts.map(_.shuffleWrite).sum / mb / n, "MB"),
      ("exec.shuffle_read_mb", ts.map(_.shuffleRead).sum / mb / n, "MB"),
      ("exec.spill_mb", ts.map(_.spill).sum / mb / n, "MB"),
      ("exec.peak_task_mem_mb", if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb, "MB"),
      ("exec.failed_tasks", ts.count(_.failed) / n, "count"),
      ("streaming.triggers", trig.size / n, "count"),
      ("streaming.trigger_p50_ms", Stats.median(trig.map(_.triggerMs.toDouble)), "ms"),
      ("streaming.add_batch_ms", trig.map(_.addBatchMs).sum / n, "ms"),
      ("streaming.state_commit_ms", trig.map(_.commitMs).sum / n, "ms"),
      ("streaming.state_rows", lastPerRun.map(_.stateRows).sum / n, "count"),
      ("streaming.state_mb", lastPerRun.map(_.stateBytes).sum / mb / n, "MB"),
      ("catalog.write_ms", writes.map(_.ms).sum / n, "ms"),
      ("catalog.rows_written", ts.map(_.outRows).sum / n, "count"),
      ("catalog.mb_written", ts.map(_.outBytes).sum / mb / n, "MB"),
      ("catalog.write_amp", if (changedBytes > 0) dmlBytes / n / changedBytes else 0.0, "ratio"),
      ("etl.job_ms", spans.filter(_.kind == "etl").map(_.ms).sum / n, "ms"),
      ("self.op_ms", selfOf("op") / n, "ms"),
      ("self.write_ms", selfOf("write") / n, "ms"),
      ("self.catalyst_ms", selfOf("catalyst") / n, "ms"),
      ("self.job_ms", selfOf("job") / n, "ms"),
      ("self.trigger_ms", selfOf("trigger") / n, "ms"),
      ("self.etl_ms", selfOf("etl") / n, "ms"),
      ("self.catalog_ms", selfOf("catalog") / n, "ms"),
    )
  }
}

object Tracer {
  /** Job group of the untimed output checks, which no metric counts. */
  val CheckGroup = "perfbench-check"
  // records filled on Spark's listener threads
  final case class JobRec(id: Int, group: String, callSite: String,
      startMs: Long, @volatile var endMs: Long = -1L)
  final case class TaskRec(stageId: Int, waitMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
      spill: Long, peakMem: Long, outBytes: Long, outRows: Long, failed: Boolean)
  final case class QeRec(phases: Seq[(String, Long, Long)],
      graftRuleNs: Long, isWrite: Boolean, ms: Double)
  final case class TriggerRec(runId: String, startMs: Long,
      triggerMs: Long, addBatchMs: Long, commitMs: Long, stateRows: Long,
      stateBytes: Long)
}
