package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Probe
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled by [[LayerTracer]]. */
final class Counters {
  var jobs, stages, tasks = 0L
  var executorRunMs, taskGcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes, inputBytes, outputBytes, writeTasks = 0L
  var pins, pinBytes, cacheBlocks = 0L
  var aqeReplans, broadcastJoins = 0L
  var analysisMs, optimizerMs, physicalMs, planNodes, actions = 0L
  val siteJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val siteExecMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** One span of the traced run: workload → pass or batch → op →
  * {build, materialize} at the benchmark's own call boundaries; Spark jobs
  * hang under the op that was open when they started. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Double, endMs: Double)

/** The benchmark's one `SparkListener` (jobs, stages, tasks, shuffle,
  * spill, GC, input/output bytes, RDD blocks, AQE updates) plus a
  * `QueryExecutionListener` for the `QueryPlanningTracker` phases of every
  * action. Attached only for traced passes; everything is attributed to
  * the op opened with [[begin]] and closed with [[end]], which drains the
  * listener bus so no event of one op lands in the next. Spans and counters
  * stay in memory until the run writes its report. */
final class LayerTracer(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6

  @volatile private var current: Counters = null
  @volatile private var currentSpan = -1
  private val stageOwner = mutable.Map.empty[Int, (Counters, String)]
  private val jobSpan = mutable.Map.empty[Int, (Int, Double, String)]
  private val execOwner = mutable.Map.empty[Long, Counters]
  private val finalPlans = mutable.Map.empty[Long, SparkPlanInfo]
  private val execSite = mutable.Map.empty[Long, String]
  private val seenBlocks = mutable.Set.empty[String]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val c = current
    if (c != null) synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      c.optimizerMs += ms(QueryPlanningTracker.OPTIMIZATION)
      c.physicalMs += ms(QueryPlanningTracker.PLANNING)
      c.planNodes += LayerTracer.nodes(qe.optimizedPlan)
      c.actions += 1
    }
  }

  def attach(): Unit = {
    Probe.drain(sc)
    sc.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    Probe.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
    synchronized(execSite.clear())
  }

  /** Open a span; `counters` (if given) receives every event until the
    * matching [[end]]. */
  def begin(name: String, kind: String, counters: Counters = null): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, currentSpan, name, kind, nowMs, Double.NaN)
    currentSpan = id
    if (counters != null) current = counters
    id
  }

  def end(id: Int, closesCounters: Boolean = false): Unit = {
    if (closesCounters) {
      Probe.drain(sc)
      synchronized {
        val c = current
        execOwner.foreach { case (exec, owner) =>
          if (owner eq c) finalPlans.remove(exec)
            .foreach(p => c.broadcastJoins += LayerTracer.broadcasts(p))
        }
        execOwner.filterInPlace((_, owner) => owner ne c)
        current = null
      }
    }
    synchronized {
      val i = spans.indexWhere(_.id == id)
      val s = spans(i)
      spans(i) = s.copy(endMs = nowMs)
      currentSpan = s.parent
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val c = current
    if (c != null) {
      c.jobs += 1
      val site = siteOf(e)
      c.siteJobs(site) += 1
      e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (c, site))
      jobSpan(e.jobId) = (currentSpan, nowMs, site)
    }
  }

  /** The source file a job was started from. Outside a stream: from the
    * job's own call site, or else (adaptive stages are submitted from
    * Spark's own threads, without one) from the call site of the SQL
    * execution the job belongs to. Inside a stream Spark gives every job the
    * call site of the query's `start()`, so the file is sampled from the
    * stream thread instead ([[LayerTracer.streamFrame]]). */
  private def siteOf(e: SparkListenerJobStart): String = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val inStream = prop(LayerTracer.StreamQueryIdKey).nonEmpty
    (if (inStream) LayerTracer.streamFrame() else None)
      .orElse(LayerTracer.callSiteFile(prop("callSite.long"), prop("callSite.short")))
      .orElse(prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)))
      .getOrElse("other")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (parent, start, site) =>
      val id = nextId; nextId += 1
      spans += Span(id, parent, s"job ${e.jobId} @ $site", "job", start, nowMs)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (c, _) =>
      if (e.stageInfo.numTasks > 0) c.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { case (c, site) =>
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.siteExecMs(site) += m.executorRunTime
        c.taskGcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        val out = m.outputMetrics.bytesWritten
        c.outputBytes += out
        if (out > 0) c.writeTasks += 1
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val c = current
    if (c != null) info.blockId.asRDDId.foreach { rid =>
      val bytes = info.memSize + info.diskSize
      if (info.storageLevel.isValid && bytes > 0) synchronized {
        if (seenBlocks.add(rid.name)) {
          if (Probe.isLocalCheckpoint(sc, rid.rddId)) { c.pins += 1; c.pinBytes += bytes }
          else c.cacheBlocks += 1
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val c = current
      LayerTracer.callSiteFile(Option(s.details), Option(s.description))
        .foreach(execSite(s.executionId) = _)
      if (c != null) { execOwner(s.executionId) = c; finalPlans(s.executionId) = s.sparkPlanInfo }
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      execOwner.get(u.executionId).foreach { c =>
        c.aqeReplans += 1
        finalPlans(u.executionId) = u.sparkPlanInfo
      }
    }
    case _ =>
  }
}

object LayerTracer {
  /** The local property Spark sets on every job a streaming query runs. */
  val StreamQueryIdKey = "sql.streaming.queryId"

  /** The source file a stream job was started from. Spark gives every job
    * of a streaming query the call site of the query's `start()`, so for
    * those jobs the file is sampled when the listener sees the job start:
    * the innermost engine frame of the stream's execution thread, as in
    * [[callSiteFile]]. None when that thread is in no engine frame. */
  def streamFrame(): Option[String] =
    Thread.getAllStackTraces.asScala.iterator
      .collect { case (t, st) if t.getName.startsWith("stream execution thread") => st }
      .flatMap(st => callSiteFile(Some(st.mkString("\n")), None)).nextOption()

  /** The source file of a call site: in its long form (one stack frame a
    * line, innermost first) the innermost engine frame, not counting
    * `Pins.pin`, which counts as its caller; else the file in its short form
    * ("save at Main.scala:42" → "Main.scala"). */
  def callSiteFile(long: Option[String], short: Option[String]): Option[String] =
    long.flatMap(l => EngineFrame.findFirstMatchIn(l).map(_.group(1)))
      .orElse(short.flatMap(s => ShortSite.findFirstMatchIn(s).map(_.group(1))))

  private val EngineFrame = """\bgraft\.(?!plans\.Pins)[\w.$]+\(([\w$-]+\.scala):\d+\)""".r
  private val ShortSite = """at ([\w$.-]+\.scala):""".r

  /** Logical plan size, counting the plans nested inside cached relations
    * and pins (`innerChildren`) as often as they are referenced — the
    * measure that grows when loops stack cached plans (capped). */
  def nodes(plan: QueryPlan[_]): Long = {
    var n = 0L
    val cap = 20000000L
    def go(p: QueryPlan[_]): Unit = if (n < cap) {
      n += 1
      p.children.foreach { case q: QueryPlan[_] => go(q) }
      p.innerChildren.foreach { case q: QueryPlan[_] => go(q); case _ => }
    }
    go(plan)
    n
  }

  def broadcasts(p: SparkPlanInfo): Long =
    (if (p.nodeName.startsWith("Broadcast") && p.nodeName.contains("Join")) 1L else 0L) +
      p.children.map(broadcasts).sum
}
