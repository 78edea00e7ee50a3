package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** One timed region around a call into a program layer. Counters are
  * filled by the listeners (traced runs only); `extra` holds counters
  * the workload measures itself. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  val startMs: Long = System.currentTimeMillis()
  var end: Long = 0L
  var endMs: Long = 0L
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRows = 0L
  var spillBytes = 0L
  var planMs = 0.0
  /** Largest join output (rows) of any query run in this span. */
  var joinRows = 0L
  /** Per stage: task run times, for the straggler ratio. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** Streaming progress (durationMs parts, state rows/bytes) of batches
    * that finished while this span was innermost. */
  val batches = mutable.ArrayBuffer.empty[Map[String, Double]]
  val extra = mutable.LinkedHashMap.empty[String, Double]
}

/** One SQL execution (an action's query): call site, epoch-ms start and
  * end, and the shuffle rows its tasks wrote. */
final class SqlExec(val id: Long) {
  var site = ""
  var startMs: Long = 0L
  var endMs: Long = 0L
  var shuffleRows = 0L
}

/** Outside-in tracer: spans are opened by the benchmark around calls into
  * the program; a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener registered here attribute jobs, tasks, shuffle,
  * spill, planning time and micro-batch progress to the span that was
  * open on the submitting thread (a local property tag, which Spark
  * copies to broadcast and streaming threads). SQL executions are kept
  * with their call sites, which splits one program call into its
  * actions. With tracing off only span walls are kept and no listener is
  * installed. */
object Tracer {
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = TrieMap.empty[Int, Span]
  private val stageSpan = TrieMap.empty[Int, Span]
  private val stageExec = TrieMap.empty[Int, Long]
  val sqlExecs = TrieMap.empty[Long, SqlExec]
  private val pendingQe = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]()
  private val pendingBatches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()
  private var stack: List[Span] = Nil
  private var session: SparkSession = _
  @volatile private var on = false

  private object Jobs extends SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(x => Option(x.getProperty(Key))).flatMap(id => byId.get(id.toInt))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      spanOf(e.properties).foreach { s =>
        s.jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => e.stageIds.foreach(stageExec(_) = x.toLong))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val q = exec(x.executionId)
        q.site = x.description
        q.startMs = x.time
      case x: SparkListenerSQLExecutionEnd => exec(x.executionId).endMs = x.time
      case _ =>
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      for (m <- Option(e.taskMetrics); x <- stageExec.get(e.stageId); q <- sqlExecs.get(x))
        q.shuffleRows += m.shuffleWriteMetrics.recordsWritten
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRows += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private def exec(id: Long): SqlExec = sqlExecs.getOrElseUpdate(id, new SqlExec(id))

  /** Output rows of every join in an executed (adaptive) plan. */
  private def joinOutputs(p: SparkPlan): Seq[Long] = {
    val own = p match {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).toSeq
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children ++ other.subqueries
    }
    own ++ kids.flatMap(joinOutputs)
  }

  private object Plans extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      pendingQe.add((ms("optimization") + ms("planning"), (0L +: joinOutputs(qe.executedPlan)).max))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val parts = Seq("triggerExecution", "queryPlanning", "getBatch", "addBatch", "walCommit", "latestOffset")
          .map(k => k -> Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
        pendingBatches.add((parts ++ Seq(
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble,
          "state_mb" -> p.stateOperators.map(_.memoryUsedBytes).sum / 1048576.0)).toMap)
      }
    }
  }

  /** Bind to a (new) session; installs the listeners when `traced`. */
  def attach(spark: SparkSession, traced: Boolean): Unit = {
    session = spark
    if (traced) enable() else on = false
  }

  def enable(): Unit = if (!on && session != null) {
    session.sparkContext.addSparkListener(Jobs)
    session.listenerManager.register(Plans)
    session.streams.addListener(Streams)
    on = true
  }

  def disable(): Unit = if (on) {
    drain()
    session.sparkContext.removeSparkListener(Jobs)
    session.listenerManager.unregister(Plans)
    session.streams.removeListener(Streams)
    on = false
  }

  def detach(): Unit = { disable(); session = null }

  /** Wait for the async listener bus, then hand planning and streaming
    * progress events that arrived to the span open at the time. */
  private def drain(): Unit = if (on) {
    PerfbenchBus.drain(session.sparkContext)
    var e = pendingQe.poll()
    while (e != null) {
      stack.headOption.foreach { s =>
        s.planMs += e._1
        s.joinRows = math.max(s.joinRows, e._2)
      }
      e = pendingQe.poll()
    }
    var b = pendingBatches.poll()
    while (b != null) {
      stack.headOption.foreach(_.batches += b)
      b = pendingBatches.poll()
    }
  }

  def span[T](name: String)(body: => T): T = {
    drain()
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    byId(s.id) = s
    stack = s :: stack
    val sc = Option(session).map(_.sparkContext).filterNot(_.isStopped)
    val prev = sc.map(_.getLocalProperty(Key))
    sc.foreach(_.setLocalProperty(Key, s.id.toString))
    try body
    finally {
      s.end = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      drain()
      stack = stack.tail
      sc.filterNot(_.isStopped).foreach(_.setLocalProperty(Key, prev.orNull))
    }
  }

  /** Record a counter on the innermost open span. */
  def put(key: String, value: Double): Unit = stack.headOption.foreach(_.extra(key) = value)
}
