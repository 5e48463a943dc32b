package layerbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnShim, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Top-level spans are the benchmark's calls into a
  * module's public functions; their children are the Spark jobs (and a
  * job's stages) the call caused, and the streaming triggers a pushed
  * micro-batch caused. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, pass: Int, name: String, layer: String,
                      module: String, kind: String, startMs: Double, var endMs: Double = -1,
                      var rounds: Int = 0)

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                         cpuMs: Double, deserMs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, fetchWaitMs: Long, spill: Long,
                         inRecords: Long, inBytes: Long)

final case class JobRec(jobId: Int, span: Int, submitMs: Long, stageIds: Seq[Int],
                        var endMs: Long = -1, var firstLaunchMs: Long = -1)

/** Streaming progress of one trigger, attributed to the batch span that
  * pushed its rows. */
final case class TriggerRec(span: Int, startMs: Double, endMs: Double, addBatchMs: Long,
                            planningMs: Long, commitMs: Long, stateCommitMs: Long,
                            stateUpdateMs: Long, stateRows: Long, stateMem: Long,
                            rowsUpdated: Long)

/** Span recorder plus the Spark listeners that attribute engine work to
  * spans. Job attribution: the benchmark thread sets the
  * `layerbench.span` local property around every call, so each job
  * carries the id of the call that launched it; jobs without the
  * property (launched from a streaming query's own thread) go to the
  * span open on the benchmark thread, which in a closed loop is the
  * batch that is being awaited.
  *
  * Untraced passes only count jobs and record the top-level spans (the
  * per-call latencies); per-task, per-stage and Catalyst records are
  * kept only while `traced` is set. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var openSpan = -1
  @volatile var traced = false
  var pass = 0

  // listener-thread state; guarded by `this`
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var catalystMs = 0.0
  /** Jobs that ended successfully; adaptive execution may also start and
    * cancel a job, depending on timing. */
  val jobsSucceeded = new AtomicInteger(0)
  val triggers = mutable.ArrayBuffer.empty[TriggerRec]
  /** Jobs and stages of finished traced passes, kept for the trace file. */
  val childSpans = mutable.ArrayBuffer.empty[Span]

  private val PropKey = "layerbench.span"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      if (traced) Tracer.this.synchronized {
        val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
          .map(_.toInt).filter(id => id >= 0 && id < spans.size && spans(id).endMs < 0)
        jobs(e.jobId) = JobRec(e.jobId, tagged.getOrElse(openSpan), e.time, e.stageIds)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobResult == JobSucceeded) jobsSucceeded.incrementAndGet()
      if (traced) Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) Tracer.this.synchronized {
        val i = e.stageInfo
        for (s <- i.submissionTime; c <- i.completionTime) stageTimes(i.stageId) = (s, c)
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (traced) Tracer.this.synchronized {
        for (j <- stageJob.get(e.stageId); rec <- jobs.get(j) if rec.firstLaunchMs < 0)
          rec.firstLaunchMs = e.taskInfo.launchTime
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (traced && e.taskMetrics != null) Tracer.this.synchronized {
        val m = e.taskMetrics; val i = e.taskInfo
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
          m.executorCpuTime / 1e6, m.executorDeserializeTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead)
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (traced) Tracer.this.synchronized {
        catalystMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Time `body` as one span named `layer.module.fn[.kind]`. */
  def span[T](layer: String, module: String, fn: String, kind: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), pass,
      s"$layer.$module.$fn.$kind", layer, module, kind, nowMs)
    spans += s
    stack.push(s)
    openSpan = s.id
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      stack.pop()
      openSpan = stack.headOption.map(_.id).getOrElse(-1)
      sc.setLocalProperty(PropKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Mark the innermost open span as covering `n` iteration rounds. */
  def rounds(n: Int): Unit = stack.headOption.foreach(_.rounds = n)

  def addTrigger(t: TriggerRec): Unit = if (traced) triggers += t

  def beginPass(p: Int, withTrace: Boolean): Unit = {
    GraftColumnShim.drainListenerBus(spark)
    synchronized {
      jobs.clear(); stageJob.clear(); stageTimes.clear(); tasks.clear(); catalystMs = 0.0
    }
    triggers.clear()
    pass = p
    traced = withTrace
  }

  /** Close a pass: drain the bus; a traced pass's records reduce to the
    * per-layer metrics. */
  def endPass(startMs: Double, endMs: Double, cores: Int): Map[String, Double] = {
    GraftColumnShim.drainListenerBus(spark)
    val wasTraced = traced
    traced = false
    if (wasTraced) synchronized { reduce(startMs, endMs, cores) } else Map.empty
  }

  private def unionMs(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    for ((s, e) <- iv.toSeq.sortBy(_._1) if e > s) {
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def reduce(startMs: Double, endMs: Double, cores: Int): Map[String, Double] = {
    val wall = endMs - startMs
    val mine = spans.filter(_.pass == pass)
    val top = mine.filter(_.parent < 0)
    // a job belongs to the top-level span its own span descends from
    def root(id: Int): Int = if (id < 0 || spans(id).parent < 0) id else root(spans(id).parent)
    val jobsOf: Map[Int, Seq[JobRec]] = jobs.values.toSeq.groupBy(j => root(j.span))
    val taskByJob: Map[Int, Seq[TaskRec]] = tasks.toSeq.groupBy(t => stageJob.getOrElse(t.stageId, -1))
    def jobsIn(s: Span) = jobsOf.getOrElse(s.id, Nil)
    def tasksIn(s: Span) = jobsIn(s).flatMap(j => taskByJob.getOrElse(j.jobId, Nil))
    def jobIv(js: Seq[JobRec]) = js.filter(_.endMs >= 0).map(j => (j.submitMs.toDouble, j.endMs.toDouble))
    def dur(s: Span) = s.endMs - s.startMs
    val m = mutable.LinkedHashMap.empty[String, Double]
    val mb = 1024.0 * 1024.0

    m("sources.read_rows") = tasks.map(_.inRecords).sum.toDouble
    m("sources.read_mb") = tasks.map(_.inBytes).sum / mb
    for (kind <- Seq("build", "terminal")) {
      val ss = top.filter(s => s.layer == "core" && s.kind == kind)
      m(s"core.${kind}_ms") = ss.map(dur).sum
      m(s"core.${kind}_jobs") = ss.map(jobsIn(_).size).sum.toDouble
    }
    for (op <- Tracer.Operators) {
      val ss = top.filter(s => s.layer == "operators" && s.module == op)
      for (kind <- Seq("build", "run")) {
        val k = ss.filter(_.kind == kind)
        m(s"operators.$op.${kind}_ms") = k.map(dur).sum
        if (kind == "build") m(s"operators.$op.build_jobs") = k.map(jobsIn(_).size).sum.toDouble
      }
      m(s"operators.$op.task_cpu_ms") = ss.flatMap(tasksIn).map(_.cpuMs).sum
    }
    for (op <- Tracer.Iterative) {
      // rounds are marked on the build span; its run span materializes the same result
      val calls = top.filter(s => s.layer == "operators" && s.module == op && s.rounds > 0)
      val nRounds = calls.map(_.rounds).sum
      val nJobs = calls.map(s => jobsIn(s).size +
        top.filter(r => r.name == s.name.stripSuffix(".build") + ".run").map(jobsIn(_).size).sum).sum
      m(s"operators.$op.jobs_per_round") = if (nRounds == 0) 0.0 else nJobs.toDouble / nRounds
    }
    val runMs = tasks.map(_.runMs).sum.toDouble
    m("engine.jobs") = jobs.size.toDouble
    m("engine.stages") = tasks.map(_.stageId).distinct.size.toDouble
    m("engine.tasks") = tasks.size.toDouble
    m("engine.sched_delay_ms") = jobs.values.filter(_.firstLaunchMs >= 0)
      .map(j => (j.firstLaunchMs - j.submitMs).toDouble).sum
    m("engine.catalyst_ms") = catalystMs
    m("engine.driver_only_ms") = wall - unionMs(tasks.map(t =>
      (math.max(t.launchMs.toDouble, startMs), math.min(t.finishMs.toDouble, endMs))))
    m("engine.core_util") = if (wall <= 0) 0.0 else runMs / (wall * cores)
    m("engine.task_run_ms") = runMs
    m("engine.task_cpu_ms") = tasks.map(_.cpuMs).sum
    m("engine.task_deser_ms") = tasks.map(_.deserMs).sum.toDouble
    m("engine.task_gc_ms") = tasks.map(_.gcMs).sum.toDouble
    m("engine.shuffle_write_mb") = tasks.map(_.shuffleWrite).sum / mb
    m("engine.shuffle_read_mb") = tasks.map(_.shuffleRead).sum / mb
    m("engine.fetch_wait_ms") = tasks.map(_.fetchWaitMs).sum.toDouble
    m("engine.spill_mb") = tasks.map(_.spill).sum / mb
    m("streaming.add_batch_ms") = triggers.map(_.addBatchMs).sum.toDouble
    m("streaming.planning_ms") = triggers.map(_.planningMs).sum.toDouble
    m("streaming.commit_ms") = triggers.map(_.commitMs).sum.toDouble
    m("streaming.state_commit_ms") = triggers.map(_.stateCommitMs).sum.toDouble
    m("streaming.state_update_ms") = triggers.map(_.stateUpdateMs).sum.toDouble
    m("streaming.state_rows") = if (triggers.isEmpty) 0.0 else triggers.map(_.stateRows).max.toDouble
    m("streaming.state_mem_mb") = if (triggers.isEmpty) 0.0 else triggers.map(_.stateMem).max / mb
    m("streaming.rows_updated") = triggers.map(_.rowsUpdated).sum.toDouble
    // self time: a top-level span's wall not covered by the jobs it launched
    for (layer <- Tracer.Layers)
      m(s"$layer.self_ms") = top.filter(_.layer == layer)
        .map(s => dur(s) - unionMs(jobIv(jobsIn(s)))).sum
    m("engine.job_ms") = top.map(s => unionMs(jobIv(jobsIn(s)))).sum
    m("trace.unattributed_ms") = wall - top.map(dur).sum
    val opCpu = Tracer.Operators.map(op => m(s"operators.$op.task_cpu_ms")).sum
    m("operators.task_cpu_share") = if (m("engine.task_cpu_ms") <= 0) 0.0 else opCpu / m("engine.task_cpu_ms")
    m("engine.driver_only_share") = if (wall <= 0) 0.0 else m("engine.driver_only_ms") / wall

    // keep jobs and stages as child spans for the trace file
    for (j <- jobs.values if j.endMs >= 0 && j.span >= 0) {
      childSpans += Span(-2 - j.jobId, j.span, pass, s"engine.job.${j.jobId}", "engine", "spark",
        "job", j.submitMs.toDouble, j.endMs.toDouble)
      for (sid <- j.stageIds; (s, c) <- stageTimes.get(sid) if stageJob.get(sid).contains(j.jobId))
        childSpans += Span(-1, -2 - j.jobId, pass, s"engine.stage.$sid", "engine", "spark",
          "stage", s.toDouble, c.toDouble)
    }
    for (t <- triggers)
      childSpans += Span(-1, t.span, pass, "streaming.trigger", "streaming", "StreamOps",
        "trigger", t.startMs, t.endMs)
    m.toMap
  }

  /** Every span as JSON: benchmark calls keep their ids; job spans get
    * id `-2 - jobId` so their stages can name them as parent. */
  def traceJson(): String = {
    def q(s: String) = "\"" + s + "\""
    (spans.filter(_.endMs >= 0) ++ childSpans).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"name":${q(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }.mkString("[", ",\n", "]")
  }
}

object Tracer {
  val Operators = Seq("Dedup", "TextAnalysis", "Similarity", "Graph", "Classifier", "Windows")
  val Iterative = Seq("Graph", "Dedup", "Similarity", "TextAnalysis", "Classifier")
  val Layers = Seq("sources", "core", "operators", "streaming")
}
