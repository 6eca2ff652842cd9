package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: an optional 3rd arg restricts the run to a
    // comma-separated query subset (the driver always passes 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    System.setProperty("spark.sql.warehouse.dir", graft.io.Fixtures.scratch("graft-warehouse-"))
    val spark = GraftSession.localSpark(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    // plan transparency: each query's formatted physical plan is dumped —
    // OUTSIDE outDir, which the driver's checker globs as query results
    // (a stray subdirectory there shows up as a spurious error row in the
    // round's correctness artifact)
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "/tmp/graft-plans")
    // delete-and-recreate: the dir is shared across runs, and stale plan
    // files from renamed/deleted queries (or other sf dirs) would mislead
    // later plan review — only the current run's plans may remain
    // …but only for FULL runs: a dev subset run (3rd arg) must not wipe
    // the complete plan set a concurrent or prior full run produced
    val pd = new java.io.File(plansDir)
    if (only.isEmpty) {
      Option(pd.listFiles()).foreach(_.foreach(_.delete()))
    }
    pd.mkdirs()
    // a thrown query must become a RED row in the round artifact, not a
    // silent omission (round 6 lost 5 regressed queries to exactly that:
    // the catch below wrote stderr only, and the driver's checker skipped
    // the missing keys) — collect every failure for failures.json
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(s"$plansDir/$name.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      // queries may persist() intermediates (LSH shingle sets); release
      // them so 56 queries don't accumulate cached relations in one JVM
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (possibly {}): its absence means an old Verify ran,
    // an empty map means every registered query produced a result
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
