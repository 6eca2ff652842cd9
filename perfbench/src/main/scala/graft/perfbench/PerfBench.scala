package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}

/** One benchmark run of one workload, in one JVM.
  *
  * {{{
  * PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --data <sfDir> --work <dir>
  * }}}
  *
  * Set-up: one session sized to the machine, an untimed verifying pass
  * that fingerprints every pipeline's output, and an untimed warm-up pass.
  * Then a closed loop with one client runs the workload's pipelines one
  * after another, each pass in a seeded order. Each call is timed as build
  * (the registered function returning its DataFrame) apart from run (the
  * final noop-sink write).
  *
  * `--seconds` sets how many passes are timed: seconds over the workload's
  * nominal pass wall, at least two. The count is fixed, not read off a
  * clock, because the JVM is still warming up while it is timed: a run
  * that fitted a third pass into its window reported a 25% lower median
  * pass than one that fitted two.
  *
  * With `--trace 1` untraced and traced passes alternate, starting and
  * ending untraced, about as many passes in all as an untraced run times,
  * and the per-layer metrics come from the traced ones; without it no
  * benchmark listener is registered. The last stdout line is
  * one JSON object prefixed by [[PerfBench.Marker]].
  */
object PerfBench {
  val Marker = "PERFBENCH_RESULT "

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"))
  }

  final case class Sample(pipeline: String, buildS: Double, runS: Double) {
    def wallS: Double = buildS + runS
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = Workloads.byName(opts.workload).getOrElse(sys.error(s"unknown workload ${opts.workload}"))
    val registry = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    val missing = workload.names.filterNot(registry.contains)
    require(missing.isEmpty, s"pipelines not registered: ${missing.mkString(", ")}")

    // static confs: must be in place before the session starts
    System.setProperty("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.localSpark(cores = cores, appName = "graft-perfbench")
    try run(spark, opts, workload, registry, cores)
    finally spark.stop()
  }

  private def run(spark: SparkSession, opts: Opts, workload: Workloads.Workload,
      registry: Map[String, (SparkSession, String) => DataFrame], cores: Int): Unit = {
    val dir = opts.data
    val pipelines = workload.names.map(n => n -> registry(n))
    val errors = mutable.LinkedHashMap.empty[String, String]
    var attempted, failed = 0L
    def fail(name: String, e: Throwable): Unit = {
      failed += 1
      errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
    }

    def call(name: String, fn: (SparkSession, String) => DataFrame)(sink: DataFrame => Unit): Option[Sample] = {
      attempted += 1
      try {
        val t0 = System.nanoTime()
        val df = fn(spark, dir)
        val t1 = System.nanoTime()
        sink(df)
        val t2 = System.nanoTime()
        Some(Sample(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9))
      } catch {
        case e: Throwable => fail(name, e); None
      } finally spark.catalog.clearCache()
    }

    // verifying pass: fingerprint every output (untimed, fixed order)
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    pipelines.sortBy(_._1).foreach { case (n, fn) =>
      call(n, fn)(df => fingerprints(n) = fingerprint(df)).foreach(s =>
        System.err.println(f"[perfbench] verify $n%s ${s.wallS}%.3f s"))
    }
    val rnd = new Random(opts.seed)
    // warm-up pass: the first pass after the verifying one is the steepest
    // of the JVM's warm-up curve (see perfbench/README.md)
    rnd.shuffle(pipelines).foreach { case (n, fn) => call(n, fn)(noop) }

    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val trace = if (opts.trace) Some(new Trace(spark)) else None
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passWalls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val tracedSpans = mutable.ArrayBuffer.empty[Layers.Span]
    val timedPasses = math.max(2, math.round(opts.seconds / workload.nominalPassS).toInt)
    val passes = if (opts.trace) 2 * (timedPasses / 2) + 1 else timedPasses
    def tracedCall(t: Trace, pass: Int, n: String, fn: (SparkSession, String) => DataFrame): Option[Sample] = {
      attempted += 1
      val spans = mutable.ArrayBuffer.empty[(String, SpanStats)]
      try {
        val (df, b) = t.span(s"$pass/$n/build")(fn(spark, dir))
        spans += (("build", b))
        val (_, r) = t.span(s"$pass/$n/run")(noop(df))
        spans += (("run", r))
        t.recordCacheLeft(r)
        Some(Sample(n, b.wallNs / 1e9, r.wallNs / 1e9))
      } catch {
        case e: Throwable => fail(n, e); None
      } finally {
        spark.catalog.clearCache()
        spans.foreach { case (phase, s) => tracedSpans += Layers.Span(n, workload.module(n), phase, s) }
      }
    }
    val cpu0 = JvmCounters.processCpuNs
    val steal0 = Steal.read()
    for (pass <- 0 until passes) {
      val traced = trace.filter(_ => pass % 2 == 1)
      traced.foreach(_.register())
      val order = rnd.shuffle(pipelines)
      val jit0 = JvmCounters.jitMs; val cg0 = JvmCounters.codegenCompiles
      val passSamples = order.flatMap { case (n, fn) =>
        traced match {
          case None => call(n, fn)(noop)
          case Some(t) => tracedCall(t, pass, n, fn)
        }
      }
      traced.foreach(_.unregister())
      val wall = passSamples.map(_.wallS).sum
      System.err.println(f"[perfbench] pass $pass%d traced=${traced.isDefined} wall=$wall%.3f s " +
        f"jit=${JvmCounters.jitMs - jit0}%d ms codegen=${JvmCounters.codegenCompiles - cg0}%d " +
        passSamples.map(s => f"${s.pipeline}%s=${s.wallS}%.3f").mkString(" "))
      samples ++= passSamples
      passWalls += ((wall, traced.isDefined))
    }
    val timedCpuS = (JvmCounters.processCpuNs - cpu0) / 1e9
    val stealShare = Steal.share(steal0, Steal.read())
    val heapMb = retainedHeapMb()

    val perPipeline = samples.groupBy(_.pipeline).toSeq.sortBy(_._1).map { case (n, ss) =>
      val med = median(ss.map(_.wallS))
      System.err.println(f"[perfbench] timed $n%s median $med%.3f s " +
        f"build ${median(ss.map(_.buildS))}%.3f s (n=${ss.size}%d)")
      n -> med
    }
    // the tail pipeline: the one whose median wall is highest
    val (tailPipeline, tailS) = perPipeline.maxByOption(_._2).getOrElse(("none", Double.NaN))
    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", median(passWalls.map(_._1)), "s"),
        ("pipeline_p50_s", median(samples.map(_.wallS)), "s"),
        ("pipeline_tail_s", tailS, "s"),
        ("cpu_s", timedCpuS / passes, "s"),
        ("heap_retained_mb", heapMb, "MB"))
      else {
        // each traced pass against the mean of its untraced neighbours,
        // which cancels the drift of a JVM that is still warming up
        val overhead = median((1 until passes by 2).map(k =>
          passWalls(k)._1 / ((passWalls(k - 1)._1 + passWalls(k + 1)._1) / 2) - 1))
        Layers.metrics(tracedSpans.toSeq, passWalls.count(_._2), cores) ++ Seq(
          ("trace.untagged_jobs", trace.get.untaggedJobs.get.toDouble, "count"),
          ("trace.overhead_pct", 100 * overhead, "pct"))
      }
    val info = Seq(
      "passes" -> passes.toString, "samples" -> samples.size.toString,
      "tail_pipeline" -> tailPipeline,
      "cores" -> cores.toString, "steal_share" -> f"$stealShare%.3f")
    println(Marker + Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "fingerprints" -> Json.obj(fingerprints.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "info" -> Json.obj(info.map { case (k, v) => k -> Json.str(v) }),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }

  /** Heap in use once garbage collection stops freeing more: after each
    * collection Spark's ContextCleaner drops the broadcast and shuffle
    * blocks that collection made unreachable, which the next one frees. */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var last = used()
    var next = { Thread.sleep(200); used() }
    var rounds = 0
    while (last - next > 0.5 && rounds < 10) { last = next; Thread.sleep(200); next = used(); rounds += 1 }
    next
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-independent output fingerprint: column names and types, row
    * count, and the sum of xxhash64 over every column. Floating-point
    * values are hashed at 10 significant digits so that the order in which
    * Spark happens to add partial sums cannot change the fingerprint. */
  def fingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.map(f => canonical(col(s"`${f.name}`"), f.dataType))
    val row = df.agg(count(lit(1)), sum(xxhash64(cols.toSeq: _*).cast(DecimalType(38, 0)))).head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    s"rows=${row.getLong(0)} hash=${Option(row.get(1)).getOrElse("null")} schema=$schema"
  }

  private def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
    case ArrayType(e, _) => transform(c, x => canonical(x, e))
    case StructType(fs) => struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) => array_sort(transform(map_entries(c),
      e => struct(canonical(e.getField("key"), k).as("k"), canonical(e.getField("value"), v).as("v"))))
    case _ => c
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
