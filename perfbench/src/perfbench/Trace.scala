package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. `kind` is `<layer>.<what>`; `key`
  * and `parent` link a span to the one that caused it. Times are
  * microseconds since the trace began. */
final case class Span(key: String, parent: String, kind: String, name: String,
                      startUs: Double, endUs: Double, args: Map[String, Any] = Map.empty) {
  def layer: String = kind.takeWhile(_ != '.')
  def durUs: Double = endUs - startUs
}

/** In-memory span recorder of a traced run. Spans come from public Spark
  * listeners (jobs, stages, tasks, query executions, micro-batches) and from
  * wrappers around the benchmark's own calls into the library; nothing is
  * added inside the program. The spans are written out when the run ends. */
object Trace {
  @volatile var on = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val epochMs = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val stack = new ThreadLocal[List[String]] { override def initialValue(): List[String] = Nil }
  val ParentProp = "perfbench.span"
  /** The span micro-batches of the running stream link to. */
  @volatile var streamParent = ""

  def current: String = stack.get.headOption.getOrElse("")

  // engine counters over the traced region
  private val jobsStarted, jobsEnded, streamJobCount, stageCount, taskCount = new LongAdder
  private val runMs, cpuNs, shuffleWrite, shuffleRead, spill, planMs = new LongAdder
  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private var listeners: Option[(SparkListener, QueryExecutionListener, StreamingQueryListener)] = None

  private def nowUs: Double = (System.nanoTime() - nano0) / 1000.0
  private def msToUs(ms: Long): Double = (ms - epochMs) * 1000.0

  /** Wraps one call of the benchmark into the library. Jobs started inside
    * it link to it through a Spark local property. */
  def span[T](name: String, kind: String)(body: => T): T =
    if (!on) body
    else {
      val key = s"w${ids.incrementAndGet()}"
      val parent = current
      val sc = SparkSession.active.sparkContext
      val prevProp = sc.getLocalProperty(ParentProp)
      stack.set(key :: stack.get)
      sc.setLocalProperty(ParentProp, key)
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(key, parent, kind, name, t0, nowUs))
        stack.set(stack.get.tail)
        sc.setLocalProperty(ParentProp, prevProp)
      }
    }

  /** A call into the delivery target, made from an executor task. */
  def deliverSpan[T](records: Int)(body: => T): T =
    if (!on) body
    else {
      val tc = TaskContext.get()
      val parent = if (tc == null) "" else s"stage${tc.stageId()}"
      val t0 = nowUs
      try body
      finally spans.add(Span(s"d${ids.incrementAndGet()}", parent, "sinks.deliver", "deliver",
        t0, nowUs, Map("records" -> records)))
    }

  /** Starts recording; `fresh` drops the spans and counters recorded so far. */
  def start(spark: SparkSession, fresh: Boolean = true): Unit = {
    if (fresh) {
      spans.clear()
      Seq(jobsStarted, jobsEnded, streamJobCount, stageCount, taskCount, runMs, cpuNs,
        shuffleWrite, shuffleRead, spill, planMs).foreach(_.reset())
    }
    val sl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobsStarted.increment()
        val props = Option(e.properties)
        val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        val parent = batch match {
          case Some(b) =>
            streamJobCount.increment()
            s"batch${props.get.getProperty("sql.streaming.queryId")}:$b:addBatch"
          case None => props.flatMap(p => Option(p.getProperty(ParentProp))).getOrElse("")
        }
        jobParent.put(e.jobId, parent)
        jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        jobsEnded.increment()
        spans.add(Span(s"job${e.jobId}", jobParent.getOrDefault(e.jobId, ""), "sched.job",
          s"job ${e.jobId}", msToUs(jobStartMs.getOrDefault(e.jobId, e.time)), msToUs(e.time)))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        stageCount.increment()
        for (a <- s.submissionTime; b <- s.completionTime)
          spans.add(Span(s"stage${s.stageId}", Option(stageJob.get(s.stageId)).fold("")(j => s"job$j"),
            "exec.stage", s"stage ${s.stageId}", msToUs(a), msToUs(b),
            Map("tasks" -> s.numTasks)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        taskCount.increment()
        Option(e.taskMetrics).foreach { m =>
          runMs.add(m.executorRunTime)
          cpuNs.add(m.executorCpuTime)
          shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plan(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
      private def plan(qe: QueryExecution): Unit =
        planMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
    }
    val stl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val key = s"batch${p.id}:${p.batchId}"
        val t0 = msToUs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val total = Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)
        spans.add(Span(key, streamParent, "streaming.batch", s"batch ${p.batchId}", t0, t0 + total * 1000.0,
          Map("rows" -> p.numInputRows)))
        // phase order within a micro-batch; the progress gives durations only
        var t = t0
        Seq("latestOffset" -> "sources", "walCommit" -> "streaming", "getBatch" -> "sources",
          "queryPlanning" -> "streaming", "addBatch" -> "streaming", "commitOffsets" -> "streaming")
          .foreach { case (ph, layer) =>
            Option(p.durationMs.get(ph)).map(_.longValue).foreach { ms =>
              spans.add(Span(s"$key:$ph", key, s"$layer.$ph", ph, t, t + ms * 1000.0))
              t += ms * 1000.0
            }
          }
      }
    }
    spark.sparkContext.addSparkListener(sl)
    spark.listenerManager.register(ql)
    spark.streams.addListener(stl)
    listeners = Some((sl, ql, stl))
    on = true
  }

  /** Waits until the listener bus has delivered the traced region's events. */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
      (jobsEnded.sum < jobsStarted.sum || taskCount.sum != last)) {
      last = taskCount.sum
      Thread.sleep(200)
    }
  }

  def stop(spark: SparkSession): Unit = {
    on = false
    listeners.foreach { case (sl, ql, stl) =>
      spark.sparkContext.removeSparkListener(sl)
      spark.listenerManager.unregister(ql)
      spark.streams.removeListener(stl)
    }
    listeners = None
  }

  def streamJobs: Long = streamJobCount.sum
  def taskRunS: Double = runMs.sum / 1000.0

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfTimeS: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.key, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, end), (a, b)) =>
            if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
          }._1
        math.max(0.0, s.durUs - covered)
      }.sum / 1e6
    }
  }

  /** Engine-layer metrics of the traced region of `wallS` seconds. */
  def engine(rep: Report, wallS: Double, cores: Int): Unit = {
    settle()
    rep.metric("plan.plan_s", planMs.sum / 1000.0, "s")
    rep.metric("sched.jobs", jobsEnded.sum, "count")
    rep.metric("sched.stages", stageCount.sum, "count")
    rep.metric("sched.tasks", taskCount.sum, "count")
    rep.metric("exec.task_run_s", runMs.sum / 1000.0, "s")
    rep.metric("exec.task_cpu_s", cpuNs.sum / 1e9, "s")
    rep.metric("exec.slot_util", runMs.sum / 1000.0 / (wallS * cores), "ratio")
    rep.metric("exec.spill_mb", spill.sum / 1e6, "MB")
    rep.metric("shuffle.write_mb", shuffleWrite.sum / 1e6, "MB")
    rep.metric("shuffle.read_mb", shuffleRead.sum / 1e6, "MB")
    rep.metric("driver.self_s", selfTimeS.getOrElse("driver", 0.0), "s")
    rep.info("self_time_s_by_layer") = selfTimeS
  }

  /** Memory over the whole run. */
  def jvm(rep: Report): Unit = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    rep.metric("jvm.gc_s", gc.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0, "s")
    val heap = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    rep.metric("jvm.heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1e6, "MB")
  }

  /** Writes the spans in Chrome trace-event format, with the run's per-layer
    * metrics and self times alongside. */
  def write(path: String, rep: Report): Unit = {
    val events = spans.asScala.toSeq.sortBy(_.startUs).map { s =>
      Map("name" -> s.name, "cat" -> s.kind, "ph" -> "X", "ts" -> s.startUs, "dur" -> s.durUs,
        "pid" -> 1, "tid" -> s.layer, "args" -> (s.args ++ Map("key" -> s.key, "parent" -> s.parent)))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), Json(Map("traceEvents" -> events,
      "selfTimeSecondsByLayer" -> selfTimeS,
      "metrics" -> rep.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
      .getBytes(StandardCharsets.UTF_8))
    rep.info("trace_file") = path
    rep.info("trace_spans") = events.size
  }
}
