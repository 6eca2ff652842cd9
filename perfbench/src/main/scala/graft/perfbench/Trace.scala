package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one span: one phase (build or run) of one pipeline call.
  * Listener threads write the Spark-side fields; the harness thread writes
  * the JVM-side ones after draining the listener bus. */
final class SpanStats {
  var wallNs, startMs, endMs = 0L
  var processCpuNs, jitMs, gcMs, codegenCompiles, codegenNs = 0L
  var jobs, tasks = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var execRunMs, execCpuNs, execGcMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  var actions, analysisMs, optimizerMs, planningMs = 0L
  var batches, triggerMs, addBatchMs, commitMs, streamPlanningMs, stateRows, stateCommitMs = 0L
  var cacheBlocks, cacheBytes = 0L

  /** Wall time inside the span during which no Spark job was running. */
  def darkMs: Long = {
    val clipped = jobIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var reach = startMs
    clipped.foreach { case (s, e) =>
      if (e > reach) { busy += e - math.max(s, reach); reach = e }
    }
    math.max(0L, (endMs - startMs) - busy)
  }
}

/** JVM-wide counters read before and after each span. */
object JvmCounters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs: Long = os.getProcessCpuTime
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long = CodeGenerator.compileTime
}

/** Hypervisor steal from /proc/stat: time the machine's virtual CPUs were
  * ready to run but the host ran something else. On a shared host it
  * stretches every wall-clock reading by a factor that changes from minute
  * to minute. Its share over the timed passes is reported beside the
  * metrics, not subtracted from them. */
object Steal {
  final case class Reading(steal: Long, busy: Long)

  /** Jiffies summed over all CPUs; zeros where /proc/stat is absent. */
  def read(): Reading = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").slice(1, 9).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    Reading(f(7), f.sum - f(3) - f(4))
  } catch { case _: Exception => Reading(0L, 0L) }

  /** Share of the CPU time wanted between two readings that was stolen. */
  def share(a: Reading, b: Reading): Double =
    if (b.busy <= a.busy) 0.0 else (b.steal - a.steal).toDouble / (b.busy - a.busy)
}

/** Outside-in trace: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener, registered only while a traced pass runs.
  *
  * Jobs, stages and tasks are attributed by the span tag the harness sets
  * as a Spark local property before each build or run call (stream
  * threads inherit it). Query-execution phases and streaming progress
  * carry no tag; they go to the span that is open when they arrive, which
  * is exact because the harness drains the listener bus before closing a
  * span. */
final class Trace(spark: SparkSession) {
  private val spans = new ConcurrentHashMap[String, SpanStats]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val untaggedJobs = new AtomicLong()
  @volatile private var open: String = null

  private def stats(tag: String): SpanStats = spans.computeIfAbsent(tag, _ => new SpanStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanKey))).orNull
      if (tag == null) untaggedJobs.incrementAndGet()
      else {
        jobStart.put(e.jobId, (tag, e.time))
        e.stageIds.foreach(stageTag.put(_, tag))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (tag, start) =>
        val s = stats(tag)
        s.synchronized { s.jobs += 1; s.jobIntervals += ((start, e.time)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val tag = stageTag.get(e.stageId)
      val m = e.taskMetrics
      if (tag != null && m != null) {
        val s = stats(tag)
        s.synchronized {
          s.tasks += 1
          s.execRunMs += m.executorRunTime
          s.execCpuNs += m.executorCpuTime
          s.execGcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Option(open).foreach { tag =>
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val s = stats(tag)
      s.synchronized {
        s.actions += 1
        s.analysisMs += ms("analysis")
        s.optimizerMs += ms("optimization")
        s.planningMs += ms("planning")
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Option(open).foreach { tag =>
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val s = stats(tag)
        s.synchronized {
          s.batches += 1
          s.triggerMs += d("triggerExecution")
          s.addBatchMs += d("addBatch")
          s.commitMs += d("commitOffsets") + d("walCommit")
          s.streamPlanningMs += d("queryPlanning")
          p.stateOperators.foreach { op =>
            s.stateRows += op.numRowsUpdated
            s.stateCommitMs += op.commitTimeMs
          }
        }
      }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Run `body` as span `tag`: tag its jobs, time it, and fold in the
    * JVM-wide counter deltas once every listener event has arrived. */
  def span[T](tag: String)(body: => T): (T, SpanStats) = {
    val sc = spark.sparkContext
    val s = stats(tag)
    val cpu0 = JvmCounters.processCpuNs; val jit0 = JvmCounters.jitMs; val gc0 = JvmCounters.gcMs
    val cg0 = JvmCounters.codegenCompiles; val cgNs0 = JvmCounters.codegenNs
    open = tag
    sc.setLocalProperty(Trace.SpanKey, tag)
    s.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val out = body
      (out, s)
    } finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Trace.SpanKey, null)
      s.processCpuNs = JvmCounters.processCpuNs - cpu0
      s.jitMs = JvmCounters.jitMs - jit0
      s.gcMs = JvmCounters.gcMs - gc0
      s.codegenCompiles = JvmCounters.codegenCompiles - cg0
      s.codegenNs = JvmCounters.codegenNs - cgNs0
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      open = null
    }
  }

  /** Storage still held by the session, charged to the span just closed. */
  def recordCacheLeft(s: SpanStats): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    s.cacheBlocks = infos.map(_.numCachedPartitions.toLong).sum
    s.cacheBytes = infos.map(i => i.memSize + i.diskSize).sum
  }
}

object Trace {
  val SpanKey = "graft.perfbench.span"
}
