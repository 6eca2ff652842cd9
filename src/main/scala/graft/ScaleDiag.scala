package graft

import org.apache.spark.sql.functions._
import graft.functions.Dedup

/** Diagnostic for scale-curve superlinearity (born from the round-4 flag
  * on p_dedup_minhash_scale): times the query min-of-2 at each corpus
  * multiple and prints the LSH intermediate cardinalities (banded rows,
  * bucket-size distribution, candidate and verified pair counts) so any
  * growth is attributable to a specific stage. Consumes the PRODUCTION
  * corpus builder and LSH config ([[PipelineQueries.docsWithNearDups]],
  * [[PipelineQueries.MinHashScaleConfig]]) rather than restating them, so
  * a retune of the query retunes the diagnostic with it.
  * Dev tool — not part of the verify/bench contract; its committed
  * conclusions live in SCALING.md. */
object ScaleDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.localSpark(cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val multiples = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTIPLES", "1,3,10")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
    val scaleRoot = graft.io.Fixtures.scratch("graft-scalediag-")

    // try/finally: a diagnostic for a suspected pathological query is the
    // run most likely to die mid-loop — don't leak multi-GB scaled
    // parquet dirs under /tmp when it does.
    try {
      multiples.foreach { m =>
        val dir = s"$scaleRoot/x$m"
        val docs = graft.ops.Scale.scaleDocuments(Tables.read(spark, sfDir, "documents"), m)
        docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val n = spark.read.parquet(s"$dir/documents.parquet").count()

        def timeOnce(): Double = {
          spark.catalog.clearCache()
          System.gc()
          val t0 = System.nanoTime()
          SparkEntry.benchOnlyQueries("p_dedup_minhash_scale")(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val t1 = timeOnce(); val t2 = timeOnce()

        // reconstruct the LSH intermediates with the production config
        spark.catalog.clearCache()
        val cfg = PipelineQueries.MinHashScaleConfig
        val corpus = PipelineQueries.docsWithNearDups(spark, dir)
        val sets = Dedup.wordShingleSets(corpus, "doc_id", "text", k = cfg.shingleK)
          .withColumnRenamed("__id", "doc_id").persist()
        val rpb = cfg.numHashes / cfg.bands
        val banded = sets.select(col("doc_id"),
            explode(Dedup.lshBands(
              Dedup.minHashSignature(col("sets"), cfg.numHashes), cfg.bands, rpb)).as("__bucket"))
          .persist()
        val bandedRows = banded.count()
        val bstats = banded.groupBy("__bucket").agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("buckets"), max("n").as("maxB"),
            sum(col("n") * col("n")).as("sumSq"), expr("sum(n)").as("rows"))
          .head()
        val buckets = bstats.getLong(0)
        // candidate counts are the quantity that distinguishes a regressed
        // plan from mere verify-stage cost: bucket-min pairing generates
        // (rows − buckets) candidates; all-pairs would generate
        // Σ n·(n−1)/2 = (sumSq − rows)/2.
        val candBucketMin = bandedRows - buckets
        val candAllPairs = (bstats.getLong(2) - bandedRows) / 2
        val pairs = Dedup.nearDupPairsFromSets(sets, "doc_id",
          numHashes = cfg.numHashes, bands = cfg.bands, threshold = cfg.threshold,
          bucketMinOnly = cfg.bucketMinOnly)
        val verifiedPairs = pairs.count()
        banded.unpersist(); sets.unpersist()
        println(f"DIAG x$m%-3d docs=$n%8d t1=$t1%7.2f t2=$t2%7.2f min=${math.min(t1, t2)}%7.2f " +
          s"banded=$bandedRows buckets=$buckets maxBucket=${bstats.getLong(1)} " +
          s"candidates_bucket_min=$candBucketMin candidates_if_all_pairs=$candAllPairs " +
          s"verified_pairs=$verifiedPairs")

        // -------- p_dedup_cc attribution (round-6 watch item: ×10 point
        // 35 s, the suite's most expensive) — split total wall into LSH
        // pair mining, per-round label materialize (join+agg+checkpoint),
        // per-round convergence probe, and the final anti-join, so the
        // 35 s is attributable to one stage instead of "the loop".
        spark.catalog.clearCache()
        val tAll0 = System.nanoTime()
        val (ccCorpus, ccPairs) = PipelineQueries.ccCorpusAndPairs(spark, dir)
        val minedPairs = ccPairs.persist()
        val nPairs = minedPairs.count() // forces LSH mining, once
        val tMine = (System.nanoTime() - tAll0) / 1e9
        val rounds = scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
        val tCc0 = System.nanoTime()
        val labels = Dedup.componentMin(minedPairs,
          roundHook = (r, ch, mat, probe) => rounds += ((r, ch, mat, probe)))
        val tLoop = (System.nanoTime() - tCc0) / 1e9
        val tJoin0 = System.nanoTime()
        val kept = ccCorpus.join(
          labels.where(col("id") =!= col("label")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti").count()
        val tJoin = (System.nanoTime() - tJoin0) / 1e9
        minedPairs.unpersist()
        val matSum = rounds.map(_._3).sum
        val probeSum = rounds.map(_._4).sum
        println(f"DIAG-CC x$m%-3d pairs=$nPairs kept=$kept rounds=${rounds.size} " +
          f"mine=$tMine%6.2f loop=$tLoop%6.2f (materialize=$matSum%6.2f probe=$probeSum%6.2f) " +
          f"final_antijoin=$tJoin%6.2f total=${tMine + tLoop + tJoin}%6.2f")
        rounds.foreach { case (r, ch, mat, probe) =>
          println(f"DIAG-CC-ROUND x$m%-3d r=$r changed=$ch materialize=$mat%6.2f probe=$probe%6.2f")
        }

        // -------- p_dedup_edit attribution (round-7 weak perf flag:
        // 26.9 s driver point vs 4.2 s builder bench, the suite max) —
        // per-stage walls: char-12-gram set build, LSH mining (banding +
        // estimate prefilter + exact-jaccard verify), Levenshtein verify
        // — plus candidate cardinality and the bucket-size maximum, so an
        // environment gap is attributable to one stage (sets-cache
        // eviction forcing recompute, or a pathological bucket under the
        // 100k cap) instead of "the query".
        spark.catalog.clearCache()
        val eCorpus = PipelineQueries.docsWithNearDups(spark, dir)
        val tS0 = System.nanoTime()
        val eSets = Dedup.charNgramSets(eCorpus, "doc_id", "text", n = 12)
          .withColumnRenamed("__id", "doc_id").persist()
        eSets.count()
        val tSets = (System.nanoTime() - tS0) / 1e9
        val eBstats = eSets.select(col("doc_id"),
            explode(Dedup.lshBands(
              Dedup.minHashSignature(col("sets"), 64), 32, 2)).as("__bucket"))
          .groupBy("__bucket").agg(count(lit(1)).as("bn"))
          .agg(max("bn").as("maxB"),
            (sum(col("bn") * (col("bn") - 1)) / 2).cast("bigint").as("allPairs"))
          .head()
        val tM0 = System.nanoTime()
        // mirrors dedupEdit's production config, including the round-9
        // giant-bucket cap (tail-dominated junk buckets at scale multiples)
        val ePairs = Dedup.nearDupPairsFromSets(eSets, "doc_id", numHashes = 64,
          bands = 32, threshold = 0.55, maxBucketSize = 1000).persist()
        val eCand = ePairs.count()
        val tMineE = (System.nanoTime() - tM0) / 1e9
        val tV0 = System.nanoTime()
        val eVerified = ePairs
          .join(eCorpus.select(col("doc_id").as("id_a"), col("text").as("__ta")), Seq("id_a"))
          .join(eCorpus.select(col("doc_id").as("id_b"), col("text").as("__tb")), Seq("id_b"))
          .where(levenshtein(col("__ta"), col("__tb")) <= 30).count()
        val tLev = (System.nanoTime() - tV0) / 1e9
        ePairs.unpersist(); eSets.unpersist()
        def timeEdit(): Double = {
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          SparkEntry.queries("p_dedup_edit")(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val te1 = timeEdit(); val te2 = timeEdit()
        println(f"DIAG-EDIT x$m%-3d sets=$tSets%6.2f mine=$tMineE%6.2f lev=$tLev%6.2f " +
          s"candidates=$eCand verified=$eVerified maxBucket=${eBstats.getLong(0)} " +
          s"all_pairs_if_uncapped=${eBstats.getLong(1)} " +
          f"full_t1=$te1%6.2f full_t2=$te2%6.2f full_min2=${math.min(te1, te2)}%6.2f")

        // -------- p_decontaminate_bloom regression chase (1.47 → 2.26 s
        // r6→r7 at ×1): the query is four small jobs — ref-key count,
        // bloom-filter build (both EAGER inside bloomDecontaminate, before
        // any output row), the shuffle-free clean scan, and the candidate
        // anti-join. Split build vs probe so a bench-point move is
        // attributable to a stage or dismissed as fixed-cost drift.
        spark.catalog.clearCache()
        val bD = Tables.read(spark, dir, "documents").select("doc_id", "text")
          .repartition(spark.sparkContext.defaultParallelism)
        val bRef = bD.where(col("doc_id") % 7 === 0).select("text")
        val tB0 = System.nanoTime()
        val bDecon = Dedup.bloomDecontaminate(bD, "text", bRef, "text")
        val tBloomBuild = (System.nanoTime() - tB0) / 1e9
        val tP0 = System.nanoTime()
        val bKept = bDecon.count()
        val tProbe = (System.nanoTime() - tP0) / 1e9
        def timeBloom(): Double = {
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          SparkEntry.queries("p_decontaminate_bloom")(spark, dir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val tb1 = timeBloom(); val tb2 = timeBloom()
        println(f"DIAG-BLOOM x$m%-3d build=$tBloomBuild%6.2f probe=$tProbe%6.2f kept=$bKept " +
          f"full_t1=$tb1%6.2f full_t2=$tb2%6.2f full_min2=${math.min(tb1, tb2)}%6.2f")
      }
    } finally {
      val p = new org.apache.hadoop.fs.Path(scaleRoot)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      spark.stop()
    }
  }
}
