package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Sessions, SparkEntry, Tables}
import graft.pipeline.StreamingWarehouse

/** One measured run of one workload, driven only through the engine's public
  * entry points (`SparkEntry.queries`, `StreamingWarehouse.run`). Inputs are generated beforehand by `run.py`;
  * this process sets up, warms up, measures for `--seconds`, exports what
  * the output checks need, and writes a JSON report to `--out`.
  *
  * Exit codes: 0 ok (op failures are recorded, not fatal), 2 harness
  * failure, 3 fatal JVM error (never swallowed). */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try { new Run(a).execute(); 0 }
      catch {
        case NonFatal(e) => e.printStackTrace(); 2
        case e: Throwable =>
          e.printStackTrace()
          Runtime.getRuntime.halt(3); 3
      }
    sys.exit(code)
  }
}

/** A timed op: its name, pass, walls (build = the registry call, including
  * any eager pins; materialize = the fetch) and outcome. */
final case class OpRecord(pass: Int, op: String, wallS: Double, buildS: Double,
    materializeS: Double, traced: Boolean, error: Option[(String, String)],
    counters: Option[Counters], driverGcMs: Long)

final class Run(a: Map[String, String]) {
  private val workload = a("workload")
  private val dataDir = a("data")
  private val workDir = a("work")
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val seed = a("seed").toLong
  private val cores = a("cores").toInt
  private val setupReps = 3 // setup_s is their median

  private def now: Double = System.nanoTime() / 1e9
  private val ops = ArrayBuffer.empty[OpRecord]
  private val passWalls = ArrayBuffer.empty[(Int, Boolean, Double, Double)] // pass, traced, wall, untimed
  private val extra = ArrayBuffer.empty[(String, Any)]
  private var spark: SparkSession = _
  private var tracer: LayerTracer = _
  private var tracedNow = false
  private var untimedS = 0.0 // output dumps within the current timed pass

  // ---- environment -------------------------------------------------------

  private def procStat(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).map(_.toLong)
      (v.take(8).sum, if (v.length > 7) v(7) else 0L) // total, steal
    } finally f.close()
  }
  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def driverGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  // ---- ops ---------------------------------------------------------------

  /** Drop what an op persisted (SQL caches and pins) so nothing is reused
    * across timed ops. */
  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Build `name` through the registry and fetch its result to the
    * driver, as a client does. With `dumpDir`, the fetched rows
    * are then written to parquet for the output check, outside the op's
    * timed region (the time goes to `untimedS`), so the check sees exactly
    * what the timed execution returned. The caller sweeps what the op
    * persisted. */
  private def runOp(pass: Int, name: String, dumpDir: Option[String] = None): OpRecord = {
    val c = if (tracedNow) new Counters else null
    val span = if (tracedNow) tracer.begin(name, "op", c) else -1
    val g0 = driverGcMs()
    val t0 = now
    var t1 = t0
    var df: DataFrame = null
    var rows: Array[Row] = null
    val err = guarded {
      df = child("build")(SparkEntry.queries(name)(spark, dataDir))
      t1 = now
      rows = child("materialize")(df.collect())
    }
    val t2 = now
    if (tracedNow) tracer.end(span, closesCounters = true)
    val dumpErr = if (err.nonEmpty) None else dumpDir.flatMap { d =>
      val e = guarded {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$d/$name")
      }
      untimedS += now - t2
      e
    }
    val rec = OpRecord(pass, name, t2 - t0, t1 - t0, t2 - t1, tracedNow, err.orElse(dumpErr),
      Option(c), driverGcMs() - g0)
    err.foreach(e => System.err.println(s"[perfbench] $workload/$name failed: ${e._1}: ${e._2}"))
    println(f"[perfbench] pass $pass%d $name ${rec.wallS}%.3f s (build ${rec.buildS}%.3f s)")
    rec
  }

  /** None, or the class and message of the non-fatal error `body` threw. */
  private def guarded(body: => Unit): Option[(String, String)] =
    try { body; None }
    catch { case NonFatal(e) => Some(e.getClass.getName -> String.valueOf(e.getMessage).take(500)) }

  private def child[A](name: String)(body: => A): A =
    if (!tracedNow) body
    else { val s = tracer.begin(name, name); try body finally tracer.end(s) }

  /** Closed loop, one client: passes run back to back until `seconds` of
    * timed passes have elapsed (at least one). In a traced run the
    * passes alternate traced / untraced, so the run measures its own
    * tracing overhead. */
  private def timedLoop(pass: Int => Unit): Unit = {
    System.gc() // every run's timed passes start from a collected heap
    heapTracking = true
    val start = now
    val least = if (trace) 2 else 1 // one traced, one not
    var p = 0
    while (p < least || now - start < seconds) {
      tracedNow = trace && p % 2 == 0
      if (tracedNow) tracer.attach()
      val span = if (tracedNow) tracer.begin(s"pass $p", "pass") else -1
      untimedS = 0.0
      val t0 = now
      pass(p)
      val wall = now - t0 - untimedS
      if (tracedNow) { tracer.end(span); tracer.detach() }
      passWalls += ((p, tracedNow, wall, untimedS))
      p += 1
    }
    tracedNow = false
    // Two full collections: the first lets Spark's ContextCleaner see the
    // broadcasts and shuffles the passes left behind and drop their blocks,
    // the second frees them; what remains is what the engine retains.
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(200)
    heapTracking = false
  }

  // ---- workloads ---------------------------------------------------------

  private val biOps: Seq[String] = {
    val q = "q(0[1-9]|1[0-5])_.*".r
    SparkEntry.queries.keys.filter(q.matches).toSeq.sorted ++ Seq("m_hindex", "m_gindex")
  }
  private val graphOps = Seq("g_pagerank_parts", "g_louvain", "g_jaccard_parts")
  private val closureOps = Seq("g_articlerank_tightcap")

  /** The untimed warm-up pass (mostly JIT compilation): its ops run
    * concurrently, one per core, to bound the run's cold cost. */
  private def warmUp(names: Seq[String]): Unit = {
    val t0 = now
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val runs = names.map(n => pool.submit(() => runOp(-1, n)))
      ops ++= runs.map(_.get)
    } finally pool.shutdown()
    sweep()
    extra += "warmup_s" -> (now - t0)
  }

  private def registryWorkload(names: Seq[String], shuffle: Boolean): Unit = {
    // Each timed op's fetched rows are also dumped, untimed, for the output
    // check; the last pass's dumps are what the checks read.
    val results = s"$workDir/results"
    warmUp(names)
    timedLoop { p =>
      val order = if (shuffle) new scala.util.Random(seed * 1000003L + p).shuffle(names) else names
      order.foreach { n => ops += runOp(p, n, Some(results)); sweep() }
    }
    extra += "results_dir" -> results
    extra += "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }

  // warehouse ingest -------------------------------------------------------

  private case class Progress(rows: Long, triggerMs: Long)
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Progress(p.numInputRows,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)))
    }
  }

  /** The stream: the untimed warm-up run commits the preload file (it
    * builds the pre-loaded warehouse), then each timed pass stages one
    * 50-paper batch, as the reference pulls one batch per scheduled run. */
  private def ingestWorkload(): Unit = {
    val batches = new File(s"$dataDir/batches").listFiles().map(_.getName).sorted
    val src = s"$workDir/stream_src"
    val ckpt = s"$workDir/stream_ckpt"
    val stateDir = s"$workDir/warehouse"
    new File(src).mkdirs()
    spark.streams.addListener(streamListener)
    var next = 0
    def stage(path: String): Unit =
      Files.copy(Paths.get(path), Paths.get(s"$src/${Paths.get(path).getFileName}"),
        StandardCopyOption.REPLACE_EXISTING)
    def streamPass(p: Int): Unit = {
      val name =
        if (p < 0) { stage(s"$dataDir/preload.parquet"); "preload" }
        else {
          require(next < batches.length, s"ran out of staged batches after $next")
          stage(s"$dataDir/batches/${batches(next)}")
          next += 1
          batches(next - 1)
        }
      val c = if (tracedNow) new Counters else null
      val span = if (tracedNow) tracer.begin(name, "op", c) else -1
      val g0 = driverGcMs()
      val t0 = now
      val err = guarded(StreamingWarehouse.run(spark, src, ckpt, stateDir))
      val wall = now - t0
      if (tracedNow) tracer.end(span, closesCounters = true)
      err.foreach(e => System.err.println(s"[perfbench] $workload/stream failed: ${e._1}: ${e._2}"))
      ops += OpRecord(p, "stream_run", wall, 0.0, wall, tracedNow, err, Option(c), driverGcMs() - g0)
    }
    val w0 = now
    streamPass(-1)
    extra += "warmup_s" -> (now - w0)
    org.apache.spark.graftbench.Probe.drain(spark.sparkContext)
    progress.clear()
    timedLoop(streamPass)
    org.apache.spark.graftbench.Probe.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    val prog = progress.asScala.toSeq
    extra += "batch_files" -> batches.take(next).toSeq
    extra += "batch_trigger_s" -> prog.map(_.triggerMs / 1000.0)
    extra += "batch_rows" -> prog.map(_.rows)
    // exports for the invariant checks (outside the timed region)
    val st = StreamingWarehouse.loadLatestState(spark, stateDir).get
    val check = s"$workDir/check"
    st.dimAuthor.select("full_name", "h_index", "g_index").coalesce(1)
      .write.mode("overwrite").parquet(s"$check/dim_author")
    st.fact.select("arxiv_ID").coalesce(1).write.mode("overwrite").parquet(s"$check/fact")
    val tables = Seq(st.dimYear, st.dimDomain, st.dimType, st.dimVenue, st.dimAuthor,
      st.dimAffiliation, st.fact, st.bridgeAuthor, st.bridgeAffiliation)
    val liveBytes = tables.flatMap(_.inputFiles).distinct
      .map(f => new File(new java.net.URI(f)).length()).sum
    extra += "check_dir" -> check
    extra += "live_warehouse_bytes" -> liveBytes
  }

  // ---- run ---------------------------------------------------------------

  // Driver heap over the timed passes. Peak: the largest heap occupancy
  // after any collection — the live set the workload needed, independent of
  // how far garbage piled up between collections. Live: the occupancy after
  // the last explicit full collection once the passes are done — what the
  // engine retains.
  @volatile private var heapTracking = false
  @volatile private var heapPeakBytes = 0L
  @volatile private var heapLiveBytes = 0L
  private val gcListener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (heapTracking && n.getType ==
          com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val heapNames = heapPools.map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapNames(pool) => u.getUsed }.sum
        if (used > heapPeakBytes) heapPeakBytes = used
        if (info.getGcCause == "System.gc()") heapLiveBytes = used
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  def execute(): Unit = {
    val load0 = loadAvg()
    val setup = ArrayBuffer.empty[Double]
    // set-up: a new session and the schemas of the workload's inputs
    (0 until setupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = now
      spark = Sessions.local(cores.toString, s"perfbench-$workload")
      if (workload == "warehouse_ingest")
        spark.read.parquet(s"$dataDir/preload.parquet").schema
      else Tables.all.filter(t => new File(s"$dataDir/$t.parquet").exists)
        .foreach(t => Tables.load(spark, dataDir, t).schema)
      setup += now - t0
    }
    tracer = if (trace) new LayerTracer(spark) else null
    val (tot0, steal0) = procStat()
    val loadStart = loadAvg()
    val t0 = now
    workload match {
      case "bi_dashboard" => registryWorkload(biOps, shuffle = true)
      case "graph_analytics" => registryWorkload(graphOps, shuffle = false)
      case "graph_closure" => registryWorkload(closureOps, shuffle = false)
      case "warehouse_ingest" => ingestWorkload()
      case other => sys.error(s"unknown workload $other")
    }
    val measured = now - t0
    val (tot1, steal1) = procStat()
    val env = Json.obj(
      "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"),
      "seed" -> seed,
      "loadavg_before_setup" -> load0,
      "loadavg_before" -> loadStart,
      "loadavg_after" -> loadAvg(),
      "cpu_steal_pct" -> (if (tot1 > tot0) 100.0 * (steal1 - steal0) / (tot1 - tot0) else 0.0))
    val report = Json.obj(
      "workload" -> workload,
      "env" -> env,
      "setup_s" -> setup.toSeq,
      "measured_s" -> measured,
      "heap_peak_mb" -> heapPeakBytes / 1048576.0,
      "heap_live_mb" -> heapLiveBytes / 1048576.0,
      "passes" -> passWalls.map { case (p, t, w, u) =>
        Json.obj("pass" -> p, "traced" -> t, "wall_s" -> w, "untimed_s" -> u) },
      "ops" -> ops.map(opJson),
      "spans" -> (if (trace) tracer.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) else Nil),
      "extra" -> Json.Obj(extra.toSeq))
    Files.writeString(Paths.get(a("out")), Json(report))
    spark.stop()
  }

  private def opJson(r: OpRecord): Json.Obj = {
    val base = Seq[(String, Any)]("pass" -> r.pass, "op" -> r.op, "wall_s" -> r.wallS,
      "build_s" -> r.buildS, "materialize_s" -> r.materializeS, "traced" -> r.traced,
      "driver_gc_ms" -> r.driverGcMs,
      "error" -> r.error.map { case (cls, msg) =>
        Json.obj("workload" -> workload, "op" -> r.op, "class" -> cls, "message" -> msg) })
    val layers = r.counters.toSeq.flatMap { c =>
      Seq[(String, Any)]("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_run_ms" -> c.executorRunMs, "task_gc_ms" -> c.taskGcMs,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "shuffle_read_bytes" -> c.shuffleReadBytes,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
        "input_bytes" -> c.inputBytes, "output_bytes" -> c.outputBytes,
        "write_tasks" -> c.writeTasks, "pins" -> c.pins, "pin_bytes" -> c.pinBytes,
        "cache_blocks" -> c.cacheBlocks, "aqe_replans" -> c.aqeReplans,
        "broadcast_joins" -> c.broadcastJoins, "analysis_ms" -> c.analysisMs,
        "optimizer_ms" -> c.optimizerMs, "physical_ms" -> c.physicalMs,
        "plan_nodes" -> c.planNodes, "actions" -> c.actions,
        "site_jobs" -> c.siteJobs.toMap, "site_exec_ms" -> c.siteExecMs.toMap)
    }
    Json.Obj(base ++ layers)
  }
}
