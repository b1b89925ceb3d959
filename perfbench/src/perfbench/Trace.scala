package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval: a pass, an operation, or a phase inside an
  * operation (`source`, `build`, `execute`). Micro-batch spans
  * come from [[StreamProbe]] progress events.
  */
final case class Span(
    id: Int,
    name: String,
    kind: String,
    parent: Int,
    pass: Int,
    startMs: Long,
    startNs: Long,
    var endMs: Long = -1L,
    var endNs: Long = -1L,
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans nest on the thread running the passes and
  * stay in memory until [[write]] dumps them at exit.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def apply[T](name: String, kind: String, pass: Int)(f: => T): T = {
    val s = Span(spans.size, name, kind, stack.headOption.fold(-1)(_.id), pass,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    try f
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def currentId: Int = stack.headOption.fold(-1)(_.id)

  def add(s: Span): Unit = spans += s.copy(id = spans.size)

  /** The innermost span open at `timeMs`: the latest-started span that
    * contains it (spans are nested and run one after another).
    */
  def openAt(timeMs: Long): Option[Span] =
    spans.filter(s => s.kind != "batch" && s.startMs <= timeMs && (s.endMs < 0 || timeMs <= s.endMs))
      .maxByOption(s => (s.startMs, s.id))

  def ancestors(s: Span): List[Span] =
    if (s.parent < 0) List(s) else s :: ancestors(spans(s.parent))

  def write(path: String): Unit = {
    val rows = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","kind":"${s.kind}","parent":${s.parent},""" +
        s""""pass":${s.pass},"start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Per-stage task totals. */
final class StageStats {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var submitMs = -1L
  var doneMs = -1L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** The benchmark's own SparkListener: jobs with their submit time and
  * stages, and task metrics rolled up per stage. Events arrive on the
  * listener bus thread; readers call [[drain]] first.
  */
final class SparkProbe extends SparkListener {
  val jobTime = mutable.LinkedHashMap.empty[Int, Long]
  val stageJob = mutable.HashMap.empty[Int, Int]
  val stages = mutable.HashMap.empty[Int, StageStats]
  @volatile private var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = math.max(lastJobEnd, e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageInfo.stageId, new StageStats)
    st.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    st.doneMs = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val st = stages.getOrElseUpdate(e.stageId, new StageStats)
      st.tasks += 1
      st.runMs += m.executorRunTime
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
      st.durations += e.taskInfo.duration
    }
  }

  /** Waits until every event posted so far has been handled: runs one
    * marker job and waits for its end event, which the bus delivers
    * after all earlier events.
    */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench-drain").max
    val deadline = System.currentTimeMillis() + 30000
    while (lastJobEnd < marker && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** One query that ran to completion: when its planning started, how
  * long its optimisation and physical planning took, and the shuffle
  * exchanges and `graft.*` nodes in the plan that executed (the final
  * adaptive plan).
  */
final case class PlannedQuery(startMs: Long, planMs: Long, exchanges: Int, graftNodes: Int)

/** The benchmark's own QueryExecutionListener. It reads the query
  * execution that actually ran (for a noop sink, the write command's),
  * so nothing is planned a second time to be measured. Events arrive on
  * the listener bus's shared queue, like [[SparkProbe]]'s, so
  * [[SparkProbe.drain]] waits for them too.
  */
final class PlanProbe extends org.apache.spark.sql.util.QueryExecutionListener
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.catalyst.QueryPlanningTracker
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  val queries = mutable.ArrayBuffer.empty[PlannedQuery]

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING).flatMap(phases.get)
    if (planning.nonEmpty) {
      val p = qe.executedPlan
      val q = PlannedQuery(
        planning.map(_.startTimeMs).min,
        planning.map(_.durationMs).sum,
        collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size,
        collectWithSubqueries(p) { case n if n.getClass.getName.startsWith("graft.") => n }.size,
      )
      synchronized(queries += q)
    }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
}

/** One micro-batch as reported by the streaming progress event. */
final case class BatchProgress(
    query: String,
    pass: Int,
    timestampMs: Long,
    rows: Long,
    durations: Map[String, Long],
    stateRows: Long,
    stateBytes: Long,
    stateCommitMs: Long,
    lateRows: Long,
)

/** The benchmark's own StreamingQueryListener: one record per
  * micro-batch, plus termination so a drain can wait for the last
  * progress event of its query.
  */
final class StreamProbe extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  private val done = mutable.HashSet.empty[java.util.UUID]
  @volatile var pass: Int = -1

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      val ops = p.stateOperators
      batches += BatchProgress(
        p.name, pass, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      )
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    synchronized { done += e.id }

  def awaitTerminated(id: java.util.UUID): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(done.contains(id)) && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}
