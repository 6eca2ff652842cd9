package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    System.setProperty("spark.sql.warehouse.dir", graft.io.Fixtures.scratch("graft-bench-warehouse-"))
    val spark = GraftSession.localSpark(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // Warm-up: absorb one-time JVM/codegen/filesystem/broadcast init so
    // per-query numbers measure the queries, not session startup.
    Tables.registerAll(spark, sfDir)
    spark.sql(
      """SELECT c_mktsegment, count(*), sum(o_totalprice) FROM orders
        |JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment""".stripMargin).collect()
    // Materialize through the noop sink: every column is evaluated and
    // shipped, so projection-only queries (regex cleaning, scoring) are
    // measured honestly — a bare count() would let Catalyst prune them away.
    //
    // Reproducibility (round-2 verdict): queries are measured in ISOLATION
    // — cache cleared + GC before each one so a heavy earlier query can't
    // tax a later one through leaked cached relations or heap pressure —
    // and the suite runs TWICE (second pass in reverse order, to
    // decorrelate any residual order effect), reporting the per-query
    // minimum: the min is the query's cost, the max is the interference.
    val errors = scala.collection.mutable.Map[String, String]()
    def runOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      (System.nanoTime() - t0) / 1e9
    }
    // bench-only variants (un-oracle-able organic-corpus forms) are
    // timed alongside the contract queries — perf stays tracked even
    // though the driver's correctness artifact excludes them
    val benchQueries = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    val ordered = benchQueries.toSeq.sortBy(_._1)
    val pass1 = ordered.map { case (n, f) => n -> runOnce(n, f) }.toMap
    val pass2 = ordered.reverse.map { case (n, f) => n -> runOnce(n, f) }.toMap
    val results = pass1.map { case (n, t) => n -> math.min(t, pass2(n)) }

    // Scale curve (round-3 verdict): the dedup/LSH family measured at m×
    // corpus multiples, so the 100 TB linearity claims carry an actual
    // scaling signature instead of a single point. Each multiple is a
    // synthetic corpus (ops.Scale.writeScaledCorpus: replica
    // vocabularies disjoint, ids salted) materialized to parquet OUTSIDE
    // the timed region; the same SparkEntry query fns then run against the
    // scaled dir, one timed pass each. Near-linear growth on the
    // bucket-min/decontaminate rows is the expected signature — superlinear
    // growth here means a plan regressed to all-pairs behavior.
    val curveQueries = SparkEntry.all.filter(_.curve)
    val multiples = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTIPLES", "1,3,10")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    // Materialize every multiple's corpus FIRST, then time each query's
    // multiples back-to-back (query-outer, multiple-inner). The flag below
    // is a RATIO between the ×1 and ×10 points; with the old
    // multiple-outer order those two timings sat many minutes apart, so a
    // shared-host regime shift mid-curve inflated one side only and
    // manufactured ratio excursions (p_dedup_edit 2.062 / simhash twin
    // 79.6 s in the round-12 slow-regime refresh, byte-identical plans).
    // Adjacent timings inflate TOGETHER, keeping the ratio attributable
    // to the plan rather than to when the host slowed down.
    val dirs = multiples.map(m => m -> graft.ops.Scale.writeScaledCorpus(spark, sfDir, m)).toMap
    // min-of-2 like the main suite: single-pass curve points manufactured
    // two phantom regressions (rounds 4/5 flagged 16.95 s / 10.03 s at
    // ×10 for a query whose min-of-2 truth was 3.56 s — shared-host
    // noise, not a plan change).
    val perQuery = curveQueries.map { q =>
      q.name -> multiples.map { m =>
        val dir = dirs(m)._1
        val a = runOnce(s"scale_x${m}_${q.name}", (s, _) => q.run(s, dir))
        val b = runOnce(s"scale_x${m}_${q.name}", (s, _) => q.run(s, dir))
        m -> math.min(a, b)
      }.toMap
    }
    val curve = multiples.map { m =>
      m -> (dirs(m)._2, perQuery.map { case (n, times) => n -> times(m) })
    }
    // Per-query scaling verdict: wall-clock ratio between the largest and
    // smallest multiple, normalized by the data ratio — 1.0 = perfectly
    // linear, < 1 = sublinear (fixed costs amortizing), > 2 = superlinear
    // enough to flag (a plan regressing toward all-pairs behavior).
    val scaleFlags: Seq[(String, (Double, Boolean))] =
      if (multiples.size < 2) Seq.empty
      else {
        val mLo = multiples.min; val mHi = multiples.max
        perQuery.map { case (n, times) =>
          val r = (times(mHi) / math.max(times(mLo), 1e-9)) / (mHi.toDouble / mLo)
          n -> (r, r > 2.0)
        }
      }

    // 3-decimal seconds: full double repr would double the line length,
    // and the driver's artifact keeps only a 2000-char window of it
    def jnum(v: Double) = f"$v%.3f"
    val qs = results.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val errJson = errors.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")
    val curveJson = curve.map { case (m, (rows, times)) =>
      Json.str(s"x$m") + ":{\"rows_documents\":" + rows + ",\"queries\":" +
        times.map { case (k, v) => Json.str(k) + ":" + jnum(v) }.mkString("{", ",", "}") + "}"
    }.mkString("{", ",", "}")
    val flagsJson = scaleFlags.map { case (n, (r, f)) =>
      Json.str(n) + ":{\"per_row_ratio\":" + f"$r%.3f" + ",\"flag\":" + f + "}"
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Field order is deliberate (round-6 verdict): headline + per-query
    // map + errors FIRST, scale curve LAST — the driver's 2000-char
    // truncation then eats the curve, not the per-round comparables.
    val line =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"errors":$errJson,"sf":"$sfDir","scale_curve":$curveJson,"scale_curve_flags":$flagsJson}"""
    // Compact headline, printed BEFORE and AFTER the full line: the
    // driver's artifact keeps a bounded stdout window (r11-r13 showed it
    // capturing only the TAIL of the full line → "parsed": null), so a
    // short self-contained JSON line must sit at both edges for the
    // headline to survive whichever edge the window keeps. Same schema
    // as the full line plus the board aggregates.
    val maxRatio = if (scaleFlags.isEmpty) 0.0 else scaleFlags.map(_._2._1).max
    val headline =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","n":${results.size},"errors":${errors.size},"flags":${scaleFlags.count(_._2._2)},"max_ratio":${f"$maxRatio%.3f"},"sf":"$sfDir"}"""
    // Driver parse contract (round-14 verdict task 2): ONE short
    // self-contained JSON line PER QUERY before the headline — each line
    // parses on its own, so per-query numbers survive any bounded stdout
    // window that truncates the full map line below. Additions only: the
    // headline, the full line and the sidecar keep their exact shapes.
    results.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(s"""{"q":${Json.str(k)},"sec":${jnum(v)}}""")
    }
    println(headline)
    println(line)
    println(headline)
    // Sidecar with the untruncated line: committed at round end, so the
    // full per-query map survives regardless of the driver's window.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    spark.stop()
  }
}
