package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Dev tool: time + explain individual queries.
  * Usage: runMain graft.PerfProbe <sfDir> <query...> [--explain]
  *   [--conf:key=value ...] [--scale:m] [--stages]
  *
  * Runs on `local[SPARK_GRAFT_CPUS]` (32 when unset), as Bench does. Each
  * call prints a `CALL` line: its build (the query function returning its
  * DataFrame) and run (the noop-sink write) seconds, and the number of
  * generated classes compiled during it.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("--explain")
    val names = args.drop(1).filterNot(_.startsWith("--"))
    val spark = GraftSession.localSpark(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    args.filter(_.startsWith("--conf:")).foreach { a =>
      val kv = a.stripPrefix("--conf:").split("=", 2)
      if (kv.length != 2 || kv(0).isEmpty) {
        System.err.println(s"malformed $a — expected --conf:key=value")
        sys.exit(2)
      }
      spark.conf.set(kv(0), kv(1))
    }
    val stages = args.contains("--stages")
    // per-stage wall + task parallelism: the AQE-coalescing failure mode
    // (byte-small compute-dense stage squeezed to 1 task) shows up here
    // as a long stage with numTasks ≈ 1
    val listener = new org.apache.spark.scheduler.SparkListener {
      val rows = scala.collection.mutable.ArrayBuffer[(Int, Int, Long, String)]()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
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
        rows.synchronized {
          rows += ((i.stageId, i.numTasks, wall, rdds))
        }
      }
    }
    // job-gap accounting: wall time where NO job is running (driver-side
    // planning / AQE re-optimization / collect processing) vs job wall
    val jobSpans = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val jobStarts = scala.collection.mutable.Map[Int, Long]()
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStarts.synchronized { jobStarts(j.jobId) = j.time }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        jobStarts.synchronized {
          jobStarts.remove(j.jobId).foreach(s => jobSpans += ((s, j.time)))
        }
    }
    if (stages) spark.sparkContext.addSparkListener(jobListener)
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
    if (stages) spark.sparkContext.addSparkListener(listener)
    // --scale:m — time the queries against an m× synthetic corpus (the
    // Bench scale-curve construction), materialized once to a scratch dir
    // deleted on exit
    val scaledDir: Option[String] =
      args.find(_.startsWith("--scale:")).map(_.stripPrefix("--scale:").toInt).map { m =>
        val dir = graft.io.Fixtures.scratch("graft-perfprobe-x" + m + "-")
        graft.ops.Scale.scaleDocuments(Tables.read(spark, sfDir, "documents"), m)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        graft.ops.Scale.scaleEmbeddings(Tables.read(spark, sfDir, "embeddings"), m, dim = 64)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        dir
      }
    val runDir = scaledDir.getOrElse(sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, SparkEntry.benchOnlyQueries(name))
      if (explain) fn(spark, runDir).explain("formatted")
      // warm + timed runs, same materialization + isolation as Bench
      val times = (1 to 2).map { i =>
        spark.catalog.clearCache()
        System.gc()
        listener.rows.synchronized(listener.rows.clear())
        jobStarts.synchronized { jobSpans.clear() }
        val t0Ms = System.currentTimeMillis()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = fn(spark, runDir)
        val tb = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"CALL $name $i build=${(tb - t0) / 1e9}%.3fs run=${(System.nanoTime() - tb) / 1e9}%.3fs " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
        if (stages && i == 2) {
          val (nJobs, darkS) = jobStats(t0Ms, System.currentTimeMillis())
          println(f"JOBS $name n=$nJobs dark=${darkS}%.2fs of ${t}%.2fs")
        }
        if (stages && i == 2) {
          listener.rows.synchronized(listener.rows.toSeq).sortBy(-_._3).take(12).foreach {
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
