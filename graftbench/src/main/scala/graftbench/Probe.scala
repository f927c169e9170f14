package graftbench

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counts for one job group (one benchmark call, or one
  * streaming query's micro-batches). */
final class EngineStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuMs = 0.0
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // wall-clock ms
  var planMs = 0.0

  def add(o: EngineStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; taskMs ++= o.taskMs; jobSpans ++= o.jobSpans; planMs += o.planMs
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    val iv = jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val med = Stats.median(taskMs.map(_.toDouble).toSeq)
      taskMs.max / math.max(1.0, med)
    }
}

/** What a streaming query reported in one progress event. */
final case class StreamProgress(inputRows: Long, planMs: Long, addBatchMs: Long,
                                walMs: Long, triggerMs: Long)

/** One recorded span: a layer call made by the benchmark. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
                 val startNs: Long) {
  var endNs: Long = startNs
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def ms: Double = (endNs - startNs) / 1e6
}

/** Outcome of one timed call. `engine` is set only while listeners are
  * attached. */
final case class Call[T](name: String, wallMs: Double, value: Option[T],
                         error: Option[String], engine: Option[EngineStats],
                         driverMs: Double) {
  def ok: Boolean = error.isEmpty
}

/** Times calls into graft from outside, with a per-call watchdog, and —
  * in a traced run — records spans and attaches Spark's public
  * listeners (SparkListener, QueryExecutionListener,
  * StreamingQueryListener), keyed by job group.
  */
final class Probe(val spark: SparkSession, val cores: Int, val traced: Boolean,
                  val runId: String, timeoutMs: Long) {
  private val sc: SparkContext = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private def newWorker() = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "graftbench-call"); t.setDaemon(true); t
  }
  private var worker = newWorker()
  private var callSeq = 0

  // ---- spans -------------------------------------------------------
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Span]()

  def span[T](name: String, kind: String)(body: Span => T): T = {
    if (!traced) return body(null)
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind,
      System.nanoTime())
    spans += s
    stack.push(s)
    try body(s)
    finally { s.endNs = System.nanoTime(); stack.pop() }
  }

  // ---- listeners -------------------------------------------------------
  private val byGroup = mutable.HashMap[String, EngineStats]()
  private val jobGroupOf = mutable.HashMap[Int, String]()
  private val stageGroupOf = mutable.HashMap[Int, String]()
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val pendingPlanMs = mutable.ArrayBuffer[Double]()
  private val pendingProgress = mutable.ArrayBuffer[StreamProgress]()

  private def statsFor(group: String): EngineStats =
    byGroup.getOrElseUpdate(Option(group).getOrElse("<none>"), new EngineStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobGroupOf(e.jobId) = g
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageGroupOf(_) = g)
      statsFor(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      val g = jobGroupOf.remove(e.jobId).orNull
      jobStartMs.remove(e.jobId).foreach(s => statsFor(g).jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        statsFor(stageGroupOf.getOrElse(e.stageInfo.stageId, null)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val s = statsFor(stageGroupOf.getOrElse(e.stageId, null))
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1e6
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        pendingPlanMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        if (e.progress.numInputRows > 0)
          pendingProgress += StreamProgress(e.progress.numInputRows,
            d.getOrElse("queryPlanning", 0L), d.getOrElse("addBatch", 0L),
            d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
            d.getOrElse("triggerExecution", 0L))
      }
  }

  private var attached = false

  /** Attach (or detach) the listeners. A traced run alternates, so the
    * same run measures its own tracing overhead. */
  def listening_=(on: Boolean): Unit = if (traced && on != attached) {
    if (on) {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      drain()
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    attached = on
  }
  def listening: Boolean = attached

  private def drain(): Unit = org.apache.spark.BenchListenerBus.drain(sc, 10000L)

  /** Engine counts of the given job groups since they were last taken;
    * plan time goes to whoever takes it first after the call. */
  private def take(groups: Seq[String]): EngineStats = synchronized {
    val out = new EngineStats
    groups.foreach(g => byGroup.remove(g).foreach(out.add))
    out.planMs += pendingPlanMs.sum
    pendingPlanMs.clear()
    out
  }

  def takeProgress(): Seq[StreamProgress] = synchronized {
    val out = pendingProgress.toList
    pendingProgress.clear()
    out
  }

  // ---- timed calls -----------------------------------------------------
  /** Run `body` as one timed call under its own job group, with a
    * watchdog that cancels the group on timeout. `extraGroups` are job
    * groups whose work belongs to this call (a streaming query's run id,
    * read after the call, which may have restarted the query).
    * `onTimeout` lets a call stop what it started (a streaming query).
    */
  def call[T](name: String, kind: String, extraGroups: => Seq[String] = Nil,
              onTimeout: () => Unit = () => ())(body: => T): Call[T] = {
    callSeq += 1
    val group = s"graftbench-$runId-$callSeq"
    span(name, kind) { sp =>
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val fut = worker.submit { () =>
        sc.setJobGroup(group, name, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
      val (value, error) =
        try (Some(fut.get(timeoutMs, TimeUnit.MILLISECONDS)), None)
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(group)
            onTimeout()
            fut.cancel(true)
            // a call that ignores the interrupt must not hold up the next
            worker.shutdownNow()
            worker = newWorker()
            (None, Some(s"timeout after $timeoutMs ms"))
          case e: java.util.concurrent.ExecutionException =>
            (None, Some(Option(e.getCause).getOrElse(e).toString.take(300)))
        }
      val wallMs = (System.nanoTime() - t0) / 1e6
      val endMs = System.currentTimeMillis()
      val engine = if (attached) {
        drain()
        Some(take(group +: extraGroups))
      } else None
      val driverMs = engine.map(st => math.max(0.0, wallMs - st.jobCoveredMs(startMs, endMs)))
        .getOrElse(0.0)
      for (st <- engine; s <- Option(sp)) {
        s.attrs ++= Seq("jobs" -> st.jobs.toDouble, "stages" -> st.stages.toDouble,
          "tasks" -> st.tasks.toDouble, "exec_run_ms" -> st.runMs.toDouble,
          "exec_cpu_ms" -> st.cpuMs, "plan_ms" -> st.planMs, "driver_ms" -> driverMs)
      }
      error.foreach(e => System.err.println(s"graftbench: $name failed: $e"))
      Call(name, wallMs, value, error, engine, driverMs)
    }
  }

  def shutdown(): Unit = {
    listening = false
    worker.shutdownNow()
    worker.awaitTermination(30, TimeUnit.SECONDS)
  }

  // ---- JVM -------------------------------------------------------------
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use right after the most recent collection of each heap
    * pool, in MB. Reading it forces no collection, so it can be sampled
    * between timed calls without cleaning up after them. */
  def heapAfterLastGcMb(): Double = heapPools.map(_.getCollectionUsage.getUsed).sum /
    (1024.0 * 1024.0)

  /** Heap in use after a full collection, in MB; taken once, after the
    * last timed call. The second collection takes what Spark's
    * ContextCleaner released in reaction to the first, so the figure does
    * not depend on how far that cleaner thread got. */
  def heapAfterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getCollectionUsage != null).toSeq

  def elapsedMs(ns: Long): Double = (ns - t0Ns) / 1e6
}
