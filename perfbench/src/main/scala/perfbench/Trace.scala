package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as Spark's listener event times. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval of a traced run. `parent` is 0 for a root.
  * Times are epoch milliseconds. */
final case class Span(id: Long, name: String, parent: Long, start: Double, end: Double,
    attrs: Map[String, String] = Map.empty) {
  def ms: Double = end - start

  def toJson: String = {
    val a = attrs.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
    f"""{"id":$id,"name":${Json.str(name)},"parent":$parent,"start_ms":$start%.3f,"end_ms":$end%.3f,"attrs":{${a.mkString(",")}}}"""
  }
}

/** The hooks a workload's ops call to mark their layers. Untraced runs
  * use [[Trace.Off]], which only runs the bodies. */
trait Trace {
  def op[T](name: String)(body: => T): T
  def phase[T](name: String, attrs: (String, String)*)(body: => T): T
  /** Notes the analysis time of a frame built by an op. */
  def analyzed(df: DataFrame): Unit
}

object Trace {
  object Off extends Trace {
    def op[T](name: String)(body: => T): T = body
    def phase[T](name: String, attrs: (String, String)*)(body: => T): T = body
    def analyzed(df: DataFrame): Unit = ()
  }

  /** The local property that carries the current op or phase span id
    * into every job the driver thread (or a thread it starts) submits. */
  val SpanProperty = "perfbench.span"
}

/** The per-layer record of one traced run: its spans and metrics. */
final case class TracedRun(spans: Seq[Span], metrics: Map[String, Double])

/** Records one run at a time: driver-side spans for the run, its ops
  * and their layer calls, plus the jobs, stages, tasks, query plans and
  * micro-batches that Spark's listeners report while the run is on. */
final class Tracer(spark: SparkSession, cores: Int) extends Trace {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 1L
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0L
  private var analysisMs = 0.0

  // ---- listener records (written on listener-bus threads) ----
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val planning = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs += JobRec(e.jobId, e.time, e.stageIds, parent)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      if (e.reason != Success) s.failedTasks += 1
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.diskBytesSpilled
        s.inRecords += m.inputMetrics.recordsRead
        s.inBytes += m.inputMetrics.bytesRead
        s.resultBytes += m.resultSize
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        s.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, summary) => planning(phase) += summary.durationMs }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val durations = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue() }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches += Batch(start, durations, p.stateOperators.map(_.numRowsTotal).sum,
          p.id.toString, p.batchId)
      }
  }

  // ---- driver-side spans ----
  /** Span ids are unique across the traced runs of one benchmark run. */
  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  private def open(name: String, attrs: Map[String, String]): (Long, Long, Double) = {
    val id = newId()
    val prev = current
    current = id
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    (id, prev, Clock.nowMs)
  }

  private def close(id: Long, prev: Long, name: String, start: Double, attrs: Map[String, String]): Unit = {
    val end = Clock.nowMs
    synchronized { spans += Span(id, name, prev, start, end, attrs) }
    current = prev
    sc.setLocalProperty(Trace.SpanProperty, if (prev == 0) null else prev.toString)
  }

  private def span[T](name: String, attrs: Map[String, String])(body: => T): T = {
    val (id, prev, start) = open(name, attrs)
    try body finally close(id, prev, name, start, attrs)
  }

  def op[T](name: String)(body: => T): T = span("op", Map("op" -> name))(body)
  def phase[T](name: String, attrs: (String, String)*)(body: => T): T = span(name, attrs.toMap)(body)
  def analyzed(df: DataFrame): Unit = synchronized {
    analysisMs += df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
      .map(_.durationMs.toDouble).getOrElse(0.0)
  }

  /** Runs `body` as one traced run, with every listener attached for
    * its duration only, and returns its spans and per-layer metrics. */
  def run(label: String)(body: => Unit): TracedRun = {
    synchronized {
      spans.clear(); jobs.clear(); stages.clear(); batches.clear(); planning.clear(); analysisMs = 0
    }
    // events of earlier, untraced work must not reach the listener
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    try span("run", Map("run" -> label))(body)
    finally {
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    synchronized(assemble())
  }

  private def assemble(): TracedRun = {
    val driver = spans.toVector
    val byId = driver.map(s => s.id -> s).toMap
    val runSpan = driver.find(_.name == "run").get
    val ops = driver.filter(_.name == "op")
    def opOf(parent: Long): Option[Span] = {
      var s = byId.get(parent)
      while (s.exists(_.name != "op")) s = s.flatMap(x => byId.get(x.parent))
      s
    }
    def opAt(t: Double): Option[Span] = ops.find(o => t >= o.start - 2 && t <= o.end + 2)
    var unlinked = 0

    val jobSpans = jobs.toVector.map { j =>
      val parent =
        if (byId.contains(j.parent)) j.parent
        else { unlinked += 1; opAt(j.start.toDouble).map(_.id).getOrElse(runSpan.id) }
      j.id -> Span(newId(), "job", parent, j.start.toDouble, j.end.toDouble, Map("job" -> j.id.toString))
    }
    val jobById = jobSpans.toMap
    // a stage counts only if it was submitted during the run
    val st = stages.values.toVector.filter(_.submitted > 0)
    val stageSpans = st.map { s =>
      val owners = jobs.filter(_.stageIds.contains(s.id))
      val owner = owners.find(j => s.submitted >= j.start && s.submitted <= j.end)
        .orElse(owners.headOption)
      val parent = owner.map(j => jobById(j.id).id).getOrElse { unlinked += 1; runSpan.id }
      Span(newId(), "stage", parent, s.submitted.toDouble, math.max(s.submitted, s.completed).toDouble,
        Map("stage" -> s.id.toString, "attempt" -> s.attempt.toString, "tasks" -> s.tasks.toString))
    }
    val batchSpans = batches.toVector.map { b =>
      val parent = opAt(b.start).map(_.id).getOrElse { unlinked += 1; runSpan.id }
      Span(newId(), "stream.batch", parent, b.start, b.start + b.durations.getOrElse("triggerExecution", 0L),
        Map("query" -> b.query, "batch" -> b.batchId.toString))
    }
    val all = driver ++ jobSpans.map(_._2) ++ stageSpans ++ batchSpans

    def sumSt(f: StageRec => Long): Double = st.map(f).sum.toDouble
    def spansNamed(n: String, attr: Option[(String, String)] = None) =
      driver.filter(s => s.name == n && attr.forall { case (k, v) => s.attrs.get(k).contains(v) })
    def totalS(n: String, attr: Option[(String, String)] = None): Double =
      spansNamed(n, attr).map(_.ms).sum / 1000
    def jobsUnder(p: Span): Vector[Span] = jobSpans.map(_._2).filter(_.parent == p.id)
    def jobUnionMs(p: Span, js: Seq[Span]): Double =
      Stats.unionLength(js.map(j => (math.max(j.start, p.start), math.min(j.end, p.end))))
    def jobsInOp(o: Span): Vector[Span] = jobSpans.map(_._2).filter(j => opOf(j.parent).exists(_.id == o.id))

    val sinkCalls = spansNamed("sinks.call")
    val sinkJobIds = sinkCalls.flatMap(jobsUnder).map(_.attrs("job").toInt).toSet
    val sinkStageIds = jobs.filter(j => sinkJobIds(j.id)).flatMap(_.stageIds).toSet
    val storageMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val wallMs = runSpan.ms
    val lastBatches = batches.groupBy(_.query).values.map(_.maxBy(_.batchId))

    val metrics = Map(
      "sources.csv.call_s" -> totalS("sources.call", Some("format" -> "csv")),
      "sources.prn.call_s" -> totalS("sources.call", Some("format" -> "prn")),
      "scan.records" -> sumSt(_.inRecords),
      "scan.input_bytes" -> sumSt(_.inBytes),
      "sinks.json.call_s" -> totalS("sinks.call", Some("format" -> "json")),
      "sinks.html.call_s" -> totalS("sinks.call", Some("format" -> "html")),
      "sinks.driver_s" -> sinkCalls.map(c => c.ms - jobUnionMs(c, jobsUnder(c))).sum / 1000,
      "sinks.result_bytes" -> st.filter(s => sinkStageIds(s.id)).map(_.resultBytes).sum.toDouble,
      "operators.build_s" -> totalS("operators.build"),
      "operators.build_jobs" -> spansNamed("operators.build").map(jobsUnder(_).size).sum.toDouble,
      "operators.execute_s" -> totalS("operators.execute"),
      "planning.analysis_ms" -> (planning(QueryPlanningTracker.ANALYSIS) + analysisMs),
      "planning.optimization_ms" -> planning(QueryPlanningTracker.OPTIMIZATION),
      "planning.physical_ms" -> planning(QueryPlanningTracker.PLANNING),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stageSpans.size.toDouble,
      "scheduler.tasks" -> sumSt(_.tasks),
      "scheduler.delay_ms" -> sumSt(_.delayMs),
      "scheduler.driver_gap_ms" -> ops.map(o => o.ms - jobUnionMs(o, jobsInOp(o))).sum,
      "executor.run_ms" -> sumSt(_.runMs),
      "executor.cpu_ms" -> sumSt(_.cpuNs) / 1e6,
      "executor.gc_ms" -> sumSt(_.gcMs),
      "executor.core_util" -> sumSt(_.runMs) / (wallMs * cores),
      "executor.failed_tasks" -> sumSt(_.failedTasks),
      "shuffle.write_bytes" -> sumSt(_.shuffleWrite),
      "shuffle.read_bytes" -> sumSt(_.shuffleRead),
      "shuffle.fetch_wait_ms" -> sumSt(_.fetchWaitMs),
      "shuffle.spill_bytes" -> sumSt(_.spill),
      "storage.cached_mb" -> storageMb,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_ms" -> batches.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble,
      "streaming.wal_commit_ms" -> batches.map(_.durations.getOrElse("walCommit", 0L)).sum.toDouble,
      "streaming.planning_ms" -> batches.map(_.durations.getOrElse("queryPlanning", 0L)).sum.toDouble,
      "streaming.state_rows" -> lastBatches.map(_.stateRows).sum.toDouble,
      "trace.unlinked_spans" -> unlinked.toDouble)
    TracedRun(all, metrics)
  }
}

object Tracer {
  private final case class JobRec(id: Int, start: Long, stageIds: Seq[Int], parent: Long) {
    var end: Long = start
  }

  private final class StageRec(val id: Int, val attempt: Int) {
    var submitted = 0L; var completed = 0L
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var inRecords = 0L; var inBytes = 0L; var resultBytes = 0L
  }

  private final case class Batch(start: Double, durations: Map[String, Long], stateRows: Long,
      query: String, batchId: Long)
}
