package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Dev tool: time + explain individual queries.
  * Usage: runMain graft.PerfProbe <sfDir> <query...> [--explain]
  *   [--conf:key=value ...] [--scale:m] [--stages]
  *
  * Runs on `local[SPARK_GRAFT_CPUS]` (32 when unset), as Bench does. Each
  * call prints a `CALL` line: its build (the query function returning its
  * DataFrame) and run (the noop-sink write) seconds, and the number of
  * generated classes compiled during it. `--stages` adds, for the warm
  * call, a `JOBS` line (job count and dark time), a `STREAM` line per
  * drained streaming query (micro-batches, state stores per stateful
  * operator, summed state-store and offset-log commit ms) and the 12
  * longest `STAGE`s. `--scale:m` runs curve rows (`Query.curve`) against the m×
  * corpus of Bench's scale curve; with `--stages` it gives the per-stage
  * attribution of a scale-curve point.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    def fail(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }
    val sfDir = args(0)
    val explain = args.contains("--explain")
    val stages = args.contains("--stages")
    val scale = args.find(_.startsWith("--scale:")).map(_.stripPrefix("--scale:").toInt)
    val queries = args.drop(1).filterNot(_.startsWith("--")).map { name =>
      SparkEntry.all.find(_.name == name).getOrElse(fail(s"unknown query $name"))
    }
    // a scaled dir holds documents and embeddings only: any other row
    // would fail deep inside Tables.read, after the corpus was written
    if (scale.isDefined) queries.find(!_.curve).foreach { q =>
      fail(s"${q.name} is not on the scale curve (Query.curve = false); " +
        "--scale runs only rows that read documents and embeddings")
    }
    val spark = GraftSession.localSpark(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.filter(_.startsWith("--conf:")).foreach { a =>
      val kv = a.stripPrefix("--conf:").split("=", 2)
      if (kv.length != 2 || kv(0).isEmpty) fail(s"malformed $a — expected --conf:key=value")
      spark.conf.set(kv(0), kv(1))
    }
    // Per-stage wall + task parallelism: the AQE-coalescing failure mode
    // (byte-small compute-dense stage squeezed to 1 task) shows up as a
    // long stage with numTasks ≈ 1. Job spans give the job-gap
    // accounting: wall time where NO job is running (driver-side
    // planning / AQE re-optimization / collect processing) vs job wall.
    val stageRows = mutable.ArrayBuffer[(Int, Int, Long, String)]()
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    val jobStarts = mutable.Map[Int, Long]()
    if (stages) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val i = sc.stageInfo
        val wall = (for {a <- i.completionTime; b <- i.submissionTime} yield a - b).getOrElse(-1L)
        // the job-group name is always the same lambda frame — the RDD
        // chain names are what identify the stage's actual work; run/cpu
        // separate compute from scheduling/straggler wall
        val m = i.taskMetrics
        val rdds = (f"run=${m.executorRunTime / 1e3}%.2fs " +
          f"cpu=${m.executorCpuTime / 1e9}%.2fs " +
          f"gc=${m.jvmGCTime / 1e3}%.2fs " +
          f"deser=${m.executorDeserializeTime / 1e3}%.2fs " +
          i.rddInfos.map(_.name).distinct.mkString(",")).take(170)
        stageRows.synchronized {
          stageRows += ((i.stageId, i.numTasks, wall, rdds))
        }
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStarts.synchronized { jobStarts(j.jobId) = j.time }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobStarts.synchronized {
          jobStarts.remove(j.jobId).foreach(s => jobSpans += ((s, j.time)))
        }
    })
    // per streaming query, in arrival order: batches, the state stores of
    // each stateful operator, state-store commit ms and offset/commit-log ms
    final class StreamRow(var batches: Int = 0, var stores: Seq[String] = Nil,
        var stateCommitMs: Long = 0L, var logCommitMs: Long = 0L)
    val streamRows = mutable.LinkedHashMap[String, StreamRow]()
    if (stages) spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        streamRows.synchronized {
          val r = streamRows.getOrElseUpdate(Option(p.name).getOrElse(p.id.toString), new StreamRow)
          r.batches += 1
          r.stores = p.stateOperators.toSeq.map(op => s"${op.operatorName}:${op.numStateStoreInstances}")
          r.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
          r.logCommitMs += d("commitOffsets") + d("walCommit")
        }
      }
    })
    def jobStats(t0Ms: Long, t1Ms: Long): (Int, Double) = {
      // drain the async listener bus first: an onJobEnd not yet delivered
      // would understate covered time (overstating "dark"), and span ends
      // are clamped to the window so a late-ending span can't push
      // covered past the window (negative dark).
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)
      jobStarts.synchronized {
        val spans = jobSpans.filter(_._2 >= t0Ms)
          .map(s => (math.max(s._1, t0Ms), math.min(s._2, t1Ms))).sortBy(_._1)
        var covered = 0L; var cur = t0Ms
        spans.foreach { case (s, e) => if (e > cur) { covered += e - math.max(s, cur); cur = math.max(cur, e) } }
        (spans.size, (t1Ms - t0Ms - covered) / 1e3)
      }
    }
    val runDir = scale.fold(sfDir)(m => graft.ops.Scale.writeScaledCorpus(spark, sfDir, m)._1)
    queries.foreach { q =>
      val name = q.name
      if (explain) q.run(spark, runDir).explain("formatted")
      // warm + timed runs, same materialization + isolation as Bench
      val times = (1 to 2).map { i =>
        spark.catalog.clearCache()
        System.gc()
        stageRows.synchronized(stageRows.clear())
        jobStarts.synchronized { jobSpans.clear() }
        streamRows.synchronized(streamRows.clear())
        val t0Ms = System.currentTimeMillis()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = q.run(spark, runDir)
        val tb = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"CALL $name $i build=${(tb - t0) / 1e9}%.3fs run=${(System.nanoTime() - tb) / 1e9}%.3fs " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
        if (stages && i == 2) {
          val (nJobs, darkS) = jobStats(t0Ms, System.currentTimeMillis())
          println(f"JOBS $name n=$nJobs dark=${darkS}%.2fs of ${t}%.2fs")
          streamRows.synchronized(streamRows.toSeq).foreach { case (stream, r) =>
            println(s"STREAM $name $stream batches=${r.batches} stores=${if (r.stores.isEmpty) "none" else r.stores.mkString(",")} " +
              s"state_commit_ms=${r.stateCommitMs} log_commit_ms=${r.logCommitMs}")
          }
          stageRows.synchronized(stageRows.toSeq).sortBy(-_._3).take(12).foreach {
            case (id, n, wall, nm) =>
              println(f"STAGE $name id=$id tasks=$n wall=${wall / 1e3}%7.2fs $nm")
          }
        }
        t
      }
      println(f"PERF $name first=${times.head}%.2fs second=${times.last}%.2fs")
    }
    spark.stop()
  }
}
