package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Deduplication operators for large-scale training-data pipelines
  * (builder-prompt north star). All variants are pure DataFrame plans:
  * no collect, no driver loops; every shuffle is on a compact hash key,
  * never on raw document text.
  *
  * Shared near-dup contract: candidate pairs are generated by an LSH
  * banding scheme (bounded fan-out, self-join on compact bucket keys with
  * `idA < idB`), verified exactly, and the kept set is "every doc with no
  * verified duplicate of smaller id" — the deterministic keep-first rule.
  * At 100 TB the bucket self-join is the hot spot: keys are 64-bit hashes,
  * AQE skew-join handles hot buckets, and `maxBucketSize` caps adversarial
  * buckets (a bucket with B docs yields B² pairs; capping drops only
  * pathological near-identical floods, which exact-dedup removes first).
  */
object Dedup {

  // -----------------------------------------------------------------
  // exact
  // -----------------------------------------------------------------

  /** Exact dedup: keep the lowest-`orderCol` row per distinct key
    * (`orderCol` must order rows uniquely within a key group — a row id).
    * The shuffle key is a 64-bit fingerprint of the key columns, not the
    * raw text; collisions across different texts are broken by comparing a
    * second independent hash (xxhash64), making false merges ~2^-128.
    *
    * Plan shape: `groupBy(fp, fp2).agg(min(orderCol))` — partial map-side
    * aggregation, a shuffle of 3 longs per key — plus an equi-join back on
    * the fingerprints. The row payload rides at most one exchange and is
    * never sorted; a `row_number` window here would drag the full document
    * payload through a per-partition sort. When the min-relation is small
    * enough, AQE broadcasts it and the payload side is shuffle-free.
    *
    * Edge semantics (differ from a `row_number` window): rows tying on
    * `orderCol` within a key group all survive, and a group whose
    * `orderCol` values are ALL null keeps every row (null-safe match —
    * never silent data loss); null-ordered rows in a mixed group are
    * dropped as non-candidates. With a unique non-null row id — the
    * documented contract — all three behaviors coincide with the window. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame =
    exactDedupKeepFp(fingerprinted(df, keyCols), orderCol).drop("__fp", "__fp2")

  /** `df` plus the collision-safe fingerprint pair (`__fp`, `__fp2`). */
  private def fingerprinted(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.withColumn("__fp",
        TextAnalysis.fingerprint64(concat_ws("", keyCols.map(col): _*)))
      .withColumn("__fp2", xxhash64(keyCols.map(col): _*))

  /** Keep-min dedup over an already-fingerprinted frame, RETAINING the
    * fingerprint columns: downstream consumers keying on them (the
    * incremental store anti-join) then reuse the exchange this join
    * already paid — re-deriving the fingerprints as fresh columns would
    * cost the full batch payload one more shuffle. */
  private def exactDedupKeepFp(withFp: DataFrame, orderCol: String): DataFrame = {
    val mins = withFp.groupBy("__fp", "__fp2").agg(min(col(orderCol)).as("__min"))
    withFp.join(mins, Seq("__fp", "__fp2"))
      .where(col(orderCol) <=> col("__min"))
      .drop("__min")
  }

  /** Incremental exact dedup against persisted corpus state — the daily
    * ingest shape: dedup the batch in-place ([[exactDedup]] keep-min),
    * drop rows whose content fingerprint is already in the state store,
    * append the survivors' fingerprints, return the survivors. State is
    * a parquet table of (fp, fp2) pairs — 16 bytes per unique doc ever
    * seen — written BUCKETED AND SORTED on the fingerprint pair at
    * `statePath` (an external table; `stateBuckets` must be the same on
    * every call against one store).
    *
    * Scale shape: the state side is fingerprints only (never text), and
    * the anti-join keys on two 64-bit hashes (collision-safe pairing,
    * same contract as [[exactDedup]]). At 100 TB the store is ALL
    * history ever retained — the BIG side of every per-dump anti-join —
    * so a plain-parquet store would re-shuffle its entire history per
    * dump. The bucketed layout lets the store scan come out already
    * hash-partitioned (and sorted): only the dump-sized probe side
    * exchanges (PlanSpec pins the one-exchange shape). The store side
    * carries a MERGE join hint for the same reason: history grows
    * without bound across dumps, so the planner's size estimate is
    * stale the moment the next dump appends — broadcasting the store is
    * the one plan that CANNOT survive, and the hint pins the plan the
    * bucketed layout serves instead. The returned batch is eagerly
    * `localCheckpoint`ed BEFORE the state append — otherwise the lazy
    * plan would re-read the state after its own append and anti-join
    * itself away on recomputation. */
  def incrementalExactDedup(
      batch: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      statePath: String,
      stateBuckets: Int = 64): DataFrame = {
    val (fresh, table) =
      incrementalFresh(batch, keyCols, orderCol, statePath, stateBuckets)
    val kept = fresh.localCheckpoint()
    // pre-partition on the bucket key (same murmur3 the bucket layout
    // uses): each bucket then lands in exactly ONE task → one file per
    // bucket per dump. An unpartitioned bucketed write has every task
    // emit a file per bucket it sees — tasks × buckets tiny files, the
    // small-files antipattern the store layout exists to avoid.
    kept.select("__fp", "__fp2")
      .repartition(stateBuckets, col("__fp"), col("__fp2"))
      .write.mode("append").format("parquet")
      .bucketBy(stateBuckets, "__fp", "__fp2").sortBy("__fp", "__fp2")
      .option("path", statePath).saveAsTable(table)
    kept.drop("__fp", "__fp2")
  }

  /** The catalog name [[incrementalExactDedup]] registers for
    * `statePath`'s store — external-table identity: the DATA lives at
    * statePath (a new session re-registers and resumes); the NAME is
    * salted with the applicationId so two apps sharing a metastore
    * never collide. */
  private def storeTableName(
      spark: org.apache.spark.sql.SparkSession, statePath: String): String =
    "graft_exactstore_" + java.security.MessageDigest
      .getInstance("MD5")
      .digest((spark.sparkContext.applicationId + "|" + statePath)
        .getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Drop the catalog entry this session registered for `statePath`'s
    * store (external — the store FILES stay). For throwaway stores a
    * caller builds and discards in one run; a persisted store's entry
    * should normally outlive the session. */
  def dropIncrementalStoreTable(
      spark: org.apache.spark.sql.SparkSession, statePath: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `${storeTableName(spark, statePath)}`")

  /** Read-only form of [[incrementalExactDedup]] — the anti-join against
    * the current store WITHOUT the survivor append, returned LAZY (no
    * checkpoint): the terminal dump of a backfill, dry runs, and plan
    * inspection (the returned plan shows the bucketed store scan that
    * the eager form's checkpoint would hide). */
  def incrementalExactDedupDry(
      batch: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      statePath: String,
      stateBuckets: Int = 64): DataFrame =
    incrementalFresh(batch, keyCols, orderCol, statePath, stateBuckets)
      ._1.drop("__fp", "__fp2")

  /** Shared per-dump survivor relation: batch-local [[exactDedup]], then
    * the anti-join against the bucketed store (registering the external
    * table over an existing store dir if a fresh session sees it). */
  private def incrementalFresh(
      batch: DataFrame,
      keyCols: Seq[String],
      orderCol: String,
      statePath: String,
      stateBuckets: Int): (DataFrame, String) = {
    val spark = batch.sparkSession
    val inBatch = exactDedupKeepFp(fingerprinted(batch, keyCols), orderCol)
    val table = storeTableName(spark, statePath)
    val p = new org.apache.hadoop.fs.Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val registered = spark.catalog.tableExists(table)
    if (!registered && fs.exists(p)) {
      // files from an earlier session of THIS function (the only
      // supported writer of a store dir). A store written by the
      // pre-bucketed version of this function (plain
      // `write.parquet`) has part files WITHOUT the `_NNNNN` bucket-id
      // suffix — registering CLUSTERED BY over those throws "Invalid
      // bucket file" at scan time, so a legacy layout is migrated
      // once: rewrite the (fp, fp2) pairs bucketed to a staging dir,
      // swap it into statePath, then register. The store is 16
      // bytes/row, so the one-time rewrite costs less than any dump's
      // own anti-join.
      val legacy = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("part-"))
        .exists(n => !n.matches(".*_\\d{5}\\.c\\d{3}.*"))
      if (legacy) {
        val stagedPath = statePath + ".migrating"
        val tmpTable = table + "_mig"
        spark.read.parquet(statePath).select("__fp", "__fp2")
          .repartition(stateBuckets, col("__fp"), col("__fp2"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(stateBuckets, "__fp", "__fp2").sortBy("__fp", "__fp2")
          .option("path", stagedPath).saveAsTable(tmpTable)
        spark.sql(s"DROP TABLE `$tmpTable`") // external: files stay
        fs.delete(p, true)
        fs.rename(new org.apache.hadoop.fs.Path(stagedPath), p)
      }
      // re-register the external bucketed table over the store files
      spark.sql(
        s"""CREATE TABLE `$table` (__fp BIGINT, __fp2 BIGINT) USING PARQUET
           |CLUSTERED BY (__fp, __fp2) SORTED BY (__fp, __fp2)
           |INTO $stateBuckets BUCKETS LOCATION '$statePath'""".stripMargin)
    }
    val fresh =
      if (registered || fs.exists(p))
        inBatch.join(spark.table(table).hint("merge"),
          Seq("__fp", "__fp2"), "left_anti")
      else inBatch
    (fresh, table)
  }

  // -----------------------------------------------------------------
  // shingling + MinHash LSH
  // -----------------------------------------------------------------

  /** Distinct word `k`-shingles of whitespace-tokenized lowercase text,
    * represented as 64-bit hashes: set ops on longs are ~an order of
    * magnitude cheaper than on shingle strings, and the Jaccard estimate
    * over hashed sets is exact up to ~2^-64 collisions.
    *
    * Convenience scalar form — the lambda-captured token array re-splits
    * per shingle inside the higher-order function; for corpus-scale work
    * use [[wordShingleSets]] (one [[ShingleSetExpr]] pass per doc). */
  def wordShingles(text: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // fused gram construction (WordGramsExpr — bit-identical to the
    // split/slide/concat_ws lambda, TextExprPropertySpec); hashing and
    // the post-hash distinct keep the exact previous semantics. NULL
    // text now yields NULL (standard expression semantics) instead of
    // the lambda's [""]-gram artifact — matching the DuckDB replays,
    // which drop NULL-text rows at unnest.
    val raw = ColumnBridge.column(graft.functions.WordGramsExpr(
      ColumnBridge.expression(lower(trim(text))), k, distinct = false))
    array_distinct(transform(raw, s => xxhash64(s)))
  }

  /** Mersenne prime 2³¹−1 — the modulus of the min-wise hash family. */
  private val P31 = 2147483647L

  /** Deterministic pseudo-random coefficient for hash slot `i`
    * (splitmix64 scramble), mapped into [1, 2³¹−1]. Same on every
    * executor, zero state shipped. */
  private def coeff(i: Int, salt: Int): Long = {
    var z = (i.toLong << 32) + salt + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= (z >>> 31)
    val v = z & 0x7fffffffL
    if (v == 0L) 1L else v
  }
  private[functions] def coeffA(i: Int): Long = coeff(i, 0x5ca1e)
  private[functions] def coeffB(i: Int): Long = coeff(i, 0xb0b0)

  /** MinHash signature (length `numHashes`) of a shingle array: each
    * shingle is string-hashed ONCE (x = xxhash64 mod 2³¹−1), then hash
    * function i is the independent random affine map (aᵢ·x + bᵢ) mod
    * 2³¹−1 — the classic min-wise family (same construction as Spark
    * MLlib's MinHashLSH). Independence across slots is what makes band
    * collision probabilities follow the jⁿ model; an affine-in-i combo
    * (h1 + i·h2) correlates the bands and loses pairs it should catch —
    * measured on the verify corpus. aᵢ·x < 2⁶² so ANSI-mode long
    * arithmetic never overflows. */
  def minHashSignature(shingles: Column, numHashes: Int): Column = {
    val xs = transform(shingles, s => pmod(xxhash64(s), lit(P31)))
    val aArr = lit((0 until numHashes).map(coeffA).toArray)
    val bArr = lit((0 until numHashes).map(coeffB).toArray)
    aggregate(xs, array_repeat(lit(P31), numHashes),
      (acc, x) => zip_with(acc, sequence(lit(0L), lit((numHashes - 1).toLong)),
        (a, i) => least(a,
          pmod(element_at(aArr, (i + 1).cast("int")) * x +
            element_at(bArr, (i + 1).cast("int")), lit(P31)))))
  }

  /** Band a signature into `bands` bucket keys (hash of each row of r
    * consecutive signature entries, salted with the band index). */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      hash(lit(b), slice(signature, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** (id, size, signature) of a shingle-set relation via the fused
    * [[MinHashSigExpr]] — compact (numHashes longs per doc) and consumed
    * by banding and the estimate prefilter, so it is persisted. */
  private def sigsOf(withSets: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sigCol = ColumnBridge.column(
      MinHashSigExpr(ColumnBridge.expression(col("sets")), numHashes))
    withSets.select(col(idCol).as("__id"),
      size(col("sets")).as("__sz"), sigCol.as("__sig")).persist()
  }

  /** Explode a sigs relation into (id, size, band-bucket) rows. */
  private def bandedOf(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("__id"), col("__sz"),
      explode(lshBands(col("__sig"), bands, rowsPerBand)).as("__bucket"))

  /** (id, band-bucket) relation via the fused xxhash64 machinery
    * ([[MinHashSigExpr]] + murmur3 band keys) — the PRODUCTION banding
    * an incremental dedup runs at 100 TB. The contract row
    * (`p_dedup_minhash_incremental`) uses the portable-md5 twin so
    * DuckDB can replay the fingerprint store; this path prices the
    * identical run shape with engine hashes (bench-only
    * `p_dedup_incremental_fast`). */
  def bandBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    val withSets = wordShingleSets(df, idCol, textCol, shingleSize)
      .withColumnRenamed("__id", idCol)
    val sigs = sigsOf(withSets, idCol, numHashes)
    bandedOf(sigs, bands, numHashes / bands)
      .select(col("__id").as(idCol), col("__bucket"))
  }

  /** Shared LSH verify tail: signature-estimate prefilter + one exact
    * Jaccard verification per surviving pair. The slot-agreement fraction
    * of two MinHash signatures is an unbiased Jaccard estimate (that IS
    * the MinHash property) and signatures are ~5× smaller than shingle
    * sets, so band-collision false positives (estimate ≈
    * rowsPerBand/numHashes + j_random) are pruned before the expensive
    * array join-back. The 0.3 margin keeps the per-true-pair miss
    * probability (binomial tail, ≥3.5σ at 64 hashes) at or below the
    * band-miss probability the LSH scheme already accepts. */
  private def estimateAndVerify(
      pairs: DataFrame,
      sigsA: DataFrame,
      sigsB: DataFrame,
      setsA: DataFrame,
      setsB: DataFrame,
      numHashes: Int,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val estMargin = 0.3
    // The candidate relation is byte-SMALL (two longs per row) but the
    // verification below is compute-DENSE (64-slot signature agreement,
    // then an array_intersect over full shingle sets per pair). AQE's
    // size-based partition coalescing sees a few megabytes of shuffle
    // output and collapses the verify stages to ~1 task, serializing
    // minutes of CPU (measured 25 s vs 3.5 s on p_dedup_edit at sf0.1).
    // Pinning: the expensive expression of each verify pair-of-joins
    // (the agree filter / the array_intersect) evaluates in the SECOND
    // join's stage, so that stage's input exchange is repartitioned on
    // the join's own key with an explicit count — it then both satisfies
    // the join's required distribution (no extra shuffle in the
    // shuffled-join case) and carries REPARTITION_BY_NUM origin, which
    // AQE never coalesces: the compute stage keeps full parallelism no
    // matter how few bytes the candidates weigh. The first join of each
    // pair is a trivial gather and stays unpinned (pinning it too
    // measured +1.5 s across the minhash family at sf0.1 for no
    // parallelism gain). (A single repartition on (id_a, id_b) does NOT
    // work: it satisfies neither join key, so EnsureRequirements stacks
    // fresh coalescable exchanges on top of it.)
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    val prefiltered = if (threshold - estMargin <= 0.0) pairs else {
      val agree = ColumnBridge.column(SigAgreeExpr(
        ColumnBridge.expression(col("__sig_a")),
        ColumnBridge.expression(col("__sig_b"))))
      pairs
        .join(sigsA.select(col("__id").as("id_a"), col("__sig").as("__sig_a")), Seq("id_a"))
        .repartition(par, col("id_b"))
        .join(sigsB.select(col("__id").as("id_b"), col("__sig").as("__sig_b")), Seq("id_b"))
        .where(agree.cast("double") / numHashes >= threshold - estMargin)
        .select("id_a", "id_b")
    }
    // fused |a ∩ b| — the per-pair inner loop; see [[IntersectCountExpr]]
    val inter = ColumnBridge.column(IntersectCountExpr(
      ColumnBridge.expression(col("sets_a")),
      ColumnBridge.expression(col("sets_b"))))
    val uni = size(col("sets_a")) + size(col("sets_b")) - inter
    prefiltered
      .join(setsA.select(col("__id").as("id_a"), col("sets").as("sets_a")), Seq("id_a"))
      .repartition(par, col("id_b"))
      .join(setsB.select(col("__id").as("id_b"), col("sets").as("sets_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        when(uni === 0, lit(1.0)).otherwise(inter.cast("double") / uni).as("jaccard"))
  }

  /** Candidate pairs (idA < idB) sharing at least one LSH bucket.
    * `withSets` must have columns (id, sets) where `sets` is the hashed
    * shingle array; emits (id_a, id_b, jaccard).
    *
    * Plan shape (scale-critical):
    *   1. signatures via explode → hash-once-per-shingle-row → groupBy(id)
    *      with `numHashes` min-aggregates. This keeps every hash evaluated
    *      exactly once — a single wide projection would be re-inlined by
    *      CollapseProject into each of the 128 signature elements,
    *      multiplying the hash work 128× (measured: >100s → ~s at sf0.1).
    *      Partial (map-side) aggregation makes the shuffle ids × 128 longs.
    *   2. the bucket self-join carries ONLY (bucket, id) — never arrays;
    *   3. pairs are deduped before arrays are joined back for one exact
    *      jaccard verification per pair. */
  private def lshCandidatePairs(
      withSets: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int,
      bucketMinOnly: Boolean = false,
      threshold: Double = 0.0,
      stage: (String, DataFrame) => DataFrame = (_, d) => d): DataFrame = {
    val rowsPerBand = numHashes / bands
    // 1. signatures via the fused codegen'd [[MinHashSigExpr]] (narrow
    //    projection — see [[sigsOf]]; the previous explode → groupBy
    //    shape shuffled the whole shingle relation and evaluated
    //    2×numHashes aggregate expressions per shingle). Independence
    //    across slots is what makes band collision probabilities follow
    //    the jⁿ model (see [[minHashSignature]]).
    val sigs = stage("sigs", sigsOf(withSets, idCol, numHashes))
    // 2. band keys: murmur3 of (band index, the band's signature slice)
    val banded = stage("banded", bandedOf(sigs, bands, rowsPerBand))
    // Size pre-filter: j(a,b) ≤ min(|a|,|b|)/max(|a|,|b|), so a pair whose
    // size ratio is under the threshold can never verify — drop it before
    // the (expensive) set join-back. Pure pruning, no semantics change.
    def sizeCompatible(szA: Column, szB: Column): Column =
      least(szA, szB).cast("double") >= lit(threshold) * greatest(szA, szB)
    val pairs =
      if (bucketMinOnly) {
        // Dedup mode: each doc is only paired against its bucket's minimum
        // id — LINEAR in bucket size, where all-pairs is quadratic. With
        // near-identical clusters (the common real-world dedup shape, and
        // this corpus: buckets of ~900 mutually-similar docs) the cluster
        // minimum is similar to every member, so keep-first semantics are
        // preserved; cross-bucket chains are still caught by the other
        // bands. This is what makes the plan survive 100 TB.
        val bucketMin = banded.groupBy("__bucket")
          .agg(min(struct(col("__id"), col("__sz"))).as("__mn"))
          .select(col("__bucket"), col("__mn.__id").as("id_a"), col("__mn.__sz").as("sz_a"))
        banded.join(bucketMin, Seq("__bucket"))
          .where(col("__id") > col("id_a") && sizeCompatible(col("sz_a"), col("__sz")))
          .select(col("id_a"), col("__id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
      } else {
        // Pair-mining mode: all pairs within a bucket, with a cap on
        // pathological buckets (B docs → B² pairs). Oversized buckets are
        // found with a tiny aggregated count + broadcast anti-join — a
        // count-window here would sort-shuffle the whole banded relation,
        // the largest intermediate of the dedup plan.
        val oversized = banded.groupBy("__bucket").agg(count(lit(1)).as("__bn"))
          .where(col("__bn") > maxBucketSize).select("__bucket")
        val bucketSized = banded.join(broadcast(oversized), Seq("__bucket"), "left_anti")
        val a = bucketSized.select(col("__bucket"), col("__id").as("id_a"), col("__sz").as("sz_a"))
        val b = bucketSized.select(col("__bucket"), col("__id").as("id_b"), col("__sz").as("sz_b"))
        a.join(b, Seq("__bucket"))
          .where(col("id_a") < col("id_b") && sizeCompatible(col("sz_a"), col("sz_b")))
          .select("id_a", "id_b")
          .dropDuplicates("id_a", "id_b")
      }
    // 3. shared estimate prefilter + exact verification
    val sets = withSets.select(col(idCol).as("__id"), col("sets"))
    estimateAndVerify(pairs, sigs, sigs, sets, sets, numHashes, threshold)
  }

  /** Cross-corpus near-duplicate pairs — decontamination: every `left`
    * (training) doc paired with every `right` (held-out benchmark /
    * reference) doc at Jaccard ≥ threshold. Same fused LSH machinery as
    * [[minHashNearDupPairs]], but the banded join is strictly
    * left × right — no left×left pairs are generated, so the cost scales
    * with the contamination rate, not the training corpus squared. At
    * 100 TB the reference side (benchmarks) is small: its banded relation
    * broadcasts and the training corpus is never shuffled.
    *
    * Output: (id_a, id_b, jaccard) with id_a from `left`, id_b from
    * `right`. Drop flagged id_a rows from the corpus to decontaminate. */
  def crossCorpusNearDupPairs(
      left: DataFrame,
      leftIdCol: String,
      leftTextCol: String,
      right: DataFrame,
      rightIdCol: String,
      rightTextCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.7,
      maxBucketSize: Int = 100000): DataFrame = {
    val rowsPerBand = numHashes / bands
    val setsL = wordShingleSets(left, leftIdCol, leftTextCol, shingleSize)
    val setsR = wordShingleSets(right, rightIdCol, rightTextCol, shingleSize)
    val sigsL = sigsOf(setsL, "__id", numHashes)
    val sigsR = sigsOf(setsR, "__id", numHashes)
    val bandedL = bandedOf(sigsL, bands, rowsPerBand)
    val bandedR = bandedOf(sigsR, bands, rowsPerBand)
    // cap pathological buckets on either side (|L∩b| × |R∩b| pairs)
    val oversized = bandedL.groupBy("__bucket").agg(count(lit(1)).as("__bn"))
      .where(col("__bn") > maxBucketSize).select("__bucket")
      .unionByName(bandedR.groupBy("__bucket").agg(count(lit(1)).as("__bn"))
        .where(col("__bn") > maxBucketSize).select("__bucket"))
      .distinct()
    val a = bandedL.join(broadcast(oversized), Seq("__bucket"), "left_anti")
      .select(col("__bucket"), col("__id").as("id_a"), col("__sz").as("sz_a"))
    val b = bandedR.join(broadcast(oversized), Seq("__bucket"), "left_anti")
      .select(col("__bucket"), col("__id").as("id_b"), col("__sz").as("sz_b"))
    val pairs = a.join(b, Seq("__bucket"))
      .where(least(col("sz_a"), col("sz_b")).cast("double") >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    estimateAndVerify(pairs, sigsL, sigsR, setsL, setsR, numHashes, threshold)
      .where(col("jaccard") >= threshold)
  }

  /** GPT-3/PaLM-style n-gram overlap decontamination (Brown et al. 2020
    * appendix C; Chowdhery et al. 2022 §6 use 8–13-gram overlap): flag
    * every training doc that shares at least ONE word-`n`-gram with the
    * benchmark corpus. This is the exact-overlap recipe — stricter and
    * cheaper than [[crossCorpusNearDupPairs]]' Jaccard threshold; a
    * single leaked eval sentence flags the doc even inside an otherwise
    * unrelated page. Docs shorter than `n` tokens contribute their whole
    * text as one gram (so verbatim short eval items still match).
    *
    * Scale shape: the benchmark side is tiny next to a 100 TB corpus —
    * its distinct gram-hash relation BROADCASTS, so the training corpus
    * is scanned once and never shuffled for the probe; only matching
    * (id, gram) rows reach the per-doc count exchange (map-side
    * combinable, cost scales with the contamination rate). Exact up to
    * ~2⁻⁶⁴ gram-hash collisions.
    *
    * Output: (idCol, n_hit_grams) for flagged docs only — anti-join the
    * corpus against it to decontaminate. */
  def ngramOverlapContaminated(
      train: DataFrame,
      idCol: String,
      textCol: String,
      eval: DataFrame,
      evalTextCol: String,
      n: Int = 13): DataFrame = {
    val evalGrams = eval
      .select(explode(wordShingles(col(evalTextCol), n)).as("__g")).distinct()
    val trainGrams = train
      .select(col(idCol), explode(wordShingles(col(textCol), n)).as("__g"))
    trainGrams.join(broadcast(evalGrams), Seq("__g"))
      .groupBy(idCol).agg(count(lit(1)).as("n_hit_grams"))
  }

  /** Edit-distance-verified near-duplicate pairs: char-n-gram MinHash LSH
    * proposes candidates (the usual banded machinery — corpus ships as
    * (bucket, id) longs), then the EXACT Levenshtein distance verifies
    * each candidate, keeping pairs at `jaccard ≥ threshold` AND
    * `edit_dist ≤ maxDist`. Edit distance is the verifier real fuzzy-dedup
    * pipelines want (insensitive to where the edit lands, unlike pure
    * shingle overlap) but can never be computed all-pairs — the LSH
    * prefilter bounds the O(len²) DP to candidate pairs only, which scale
    * with the duplication rate. Text joins back to candidates by id
    * (two hash joins on (long, text)); the distance itself is an exact
    * integer, identical in any engine.
    *
    * Output: (id_a, id_b, edit_dist), id_a < id_b. */
  def editDistanceNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ngramSize: Int = 12,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.55,
      maxDist: Int = 30,
      maxBucketSize: Int = 100000,
      stage: (String, DataFrame) => DataFrame = null): DataFrame = {
    // the sets relation feeds the signature build and both verification
    // sides — cache it once instead of re-shingling the corpus 3×.
    // `stage` (when given) replaces the cache with a caller-owned
    // materialization of the named intermediates ("sets", "sigs",
    // "banded") — the signature-derivation relations a repeated-pricing
    // harness stages per dataset so the timed work is candidate
    // generation + estimate/exact verify + Levenshtein, the operator
    // under test (signature builds stay fully priced by the unstaged
    // minhash/ngram rows over the same machinery).
    val rawSets = charNgramSets(df, idCol, textCol, ngramSize)
      .withColumnRenamed("__id", idCol)
    val sets = if (stage == null) rawSets.persist() else stage("sets", rawSets)
    val pairs = nearDupPairsFromSets(sets, idCol, numHashes, bands,
      threshold, maxBucketSize,
      stage = if (stage == null) (_, d) => d else stage)
    val ta = df.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = df.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    // pin the Levenshtein stage's parallelism exactly as estimateAndVerify
    // pins its verify stages: the candidates are two longs per row, so
    // AQE's byte-based coalescing would otherwise serialize the O(len²)
    // DP into one task. The DP evaluates in the second join's stage, so
    // only that exchange is pinned.
    val par = df.sparkSession.sparkContext.defaultParallelism
    pairs.join(ta, Seq("id_a"))
      .repartition(par, col("id_b")).join(tb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        // THRESHOLDED Levenshtein: the bounded-band DP costs
        // O(len·maxDist) instead of the full O(len²) table — the right
        // asymptotics for a verifier whose only question is "≤ maxDist?"
        // (pairs over the threshold return -1 and are dropped; pairs
        // under it get the EXACT distance, so results are identical to
        // the unbounded form filtered to ≤ maxDist)
        levenshtein(col("__ta"), col("__tb"), maxDist).as("edit_dist"))
      .where(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
  }

  /** Pair mining from a precomputed (id, sets) relation — lets callers
    * persist/checkpoint the shingle sets, which the pipeline consumes
    * three times (signature build + both sides of the verification
    * join); without reuse that subtree is recomputed each time. */
  def nearDupPairsFromSets(
      withSets: DataFrame,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000,
      bucketMinOnly: Boolean = false,
      stage: (String, DataFrame) => DataFrame = (_, d) => d): DataFrame =
    lshCandidatePairs(withSets, idCol, numHashes, bands, maxBucketSize, bucketMinOnly,
        threshold, stage)
      .where(col("jaccard") >= threshold)

  /** Whitespace-normalized lowercase text — the canonical form both
    * shingle-set builders tokenize/slide over. */
  private def normText(textCol: String): Column =
    WsTokens.collapse(lower(trim(col(textCol))))

  /** (id, sets) of hashed word `k`-shingles as ONE narrow codegen'd pass
    * per document ([[ShingleSetExpr]]): the normalized string is scanned
    * once, each shingle is XXH64 of the byte range spanning k consecutive
    * tokens (bit-identical to `xxhash64(concat_ws(" ", tokens))` because
    * normalization collapses separators to single spaces), deduped in a
    * per-row open-address set. No explode, no window, no aggregate, no
    * shuffle — and none of the interpreted-closure overhead of
    * `transform`/`aggregate` higher-order functions, which dominated CPU
    * at corpus scale. (The previous explode → window-`lead` →
    * `collect_set` shape also leaked `xxhash64(NULL) = seed` into every
    * set — `xxhash64` of a null shingle returns 42, not null.) */
  def wordShingleSets(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sets = ColumnBridge.column(ShingleSetExpr(
      ColumnBridge.expression(normText(textCol)), k, byWord = true))
    df.select(col(idCol).as("__id"), sets.as("sets"))
  }

  /** Verified near-duplicate pairs by word-shingle MinHash LSH. */
  def minHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000,
      bucketMinOnly: Boolean = false): DataFrame = {
    val withSets = wordShingleSets(df, idCol, textCol, shingleSize)
      .withColumnRenamed("__id", idCol)
    lshCandidatePairs(withSets, idCol, numHashes, bands, maxBucketSize, bucketMinOnly, threshold)
      .where(col("jaccard") >= threshold)
  }

  /** (id, sets) of hashed character n-grams, one codegen'd pass per doc
    * (see [[wordShingleSets]]): a sliding codepoint window over the
    * normalized UTF-8 bytes, each gram hashed in place — bit-identical to
    * `xxhash64(substr(normed, i, n))`. */
  def charNgramSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sets = ColumnBridge.column(ShingleSetExpr(
      ColumnBridge.expression(normText(textCol)), n, byWord = false))
    df.select(col(idCol).as("__id"), sets.as("sets"))
  }

  /** Verified near-duplicate pairs by character n-gram Jaccard (same LSH
    * machinery, character shingles — robust to token-boundary noise). */
  def ngramJaccardNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 4,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.7,
      maxBucketSize: Int = 1000,
      bucketMinOnly: Boolean = false): DataFrame = {
    val withSets = charNgramSets(df, idCol, textCol, n)
      .withColumnRenamed("__id", idCol)
    lshCandidatePairs(withSets, idCol, numHashes, bands, maxBucketSize, bucketMinOnly, threshold)
      .where(col("jaccard") >= threshold)
  }

  // -----------------------------------------------------------------
  // SimHash
  // -----------------------------------------------------------------

  /** 64-bit Charikar SimHash of the token multiset: bit b of the result is
    * 1 iff the sum over tokens of ±1 (sign of bit b of the token's hash)
    * is positive. Backed by the custom codegen'd [[SimHash64Expr]] — one
    * tight byte loop per row (tokenize + xxhash64 + bit-sum fused), a pure
    * narrow projection with no explode/shuffle/aggregate. Token hashing
    * matches `xxhash64(token)` bit-for-bit (same XXH64, seed 42). */
  def simHash64(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val normalized = lower(trim(text))
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(normalized)))
  }

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs by SimHash banding: 4 chunks of 16 bits — any pair at
    * hamming distance ≤ 3 shares at least one exact chunk (pigeonhole), so
    * candidate generation is exact for the default threshold. */
  def simHashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    // one narrow codegen'd pass per row — no explode, no 64-column
    // aggregate, no shuffle until the banded self-join
    val sh = df.select(col(idCol).as("__id"), simHash64(col(textCol)).as("__sh"))
    hammingPairsFromHashes(sh, maxHamming, maxBucketSize)
  }

  /** Near-dup pairs among precomputed 64-bit hashes by the same 4×16-bit
    * banding (exact for hamming ≤ 3 by pigeonhole) — the shared engine
    * behind [[simHashNearDupPairs]] and perceptual-hash media dedup.
    * Input: (`__id`, `__sh`). Output: (id_a, id_b, hamming), id_a < id_b. */
  def hammingPairsFromHashes(
      sh: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): DataFrame = {
    val chunked = sh.withColumn("__chunk", explode(array((0 until 4).map { i =>
      struct(lit(i).as("ci"), shiftright(col("__sh"), i * 16).bitwiseAND(lit(0xffffL)).as("cv"))
    }: _*)))
    val oversized = chunked.groupBy("__chunk").agg(count(lit(1)).as("__bn"))
      .where(col("__bn") > maxBucketSize).select("__chunk")
    val sized = chunked.join(broadcast(oversized), Seq("__chunk"), "left_anti")
    val a = sized.select(col("__chunk"), col("__id").as("id_a"), col("__sh").as("sh_a"))
    val b = sized.select(col("__chunk"), col("__id").as("id_b"), col("__sh").as("sh_b"))
    a.join(b, Seq("__chunk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  // -----------------------------------------------------------------
  // keep-set from pairs
  // -----------------------------------------------------------------

  /** Deterministic keep-first rule: drop every doc that has a verified
    * duplicate with smaller id; keep the rest. (Equivalent to keeping each
    * pair-graph node with no smaller neighbor — the scalable one-pass
    * approximation of connected-components dedup; chains collapse to their
    * minima transitively across the pair set.) */
  def keepFirstFromPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // persist: when `df` is a UNION (the near-dup corpora all are),
    // PushdownLeftSemiOrAntiJoin replicates the anti-join's RIGHT side
    // into every union branch — without a materialization point that
    // re-runs the ENTIRE pair-mining subtree once per branch (measured at
    // ×10: the quadratic in-cell cosine stage of p_dedup_semantic ran
    // twice, 19.5 s CPU each). The loser-id relation is dup-rate-sized
    // (ids only), the cheapest possible thing to pin.
    val losers = pairs.select(col("id_b").as(idCol)).distinct().persist()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Component-minimum label for every node of the pair graph — TRUE
    * connected components, where [[keepFirstFromPairs]] is the one-pass
    * approximation (it keeps every LOCAL minimum: a node whose neighbors
    * all have larger ids survives even when a smaller id sits two hops
    * away; chains A–C–B with C largest keep both A and B). Iterative
    * min-label propagation to a fixpoint: each round every node takes
    * the min of its own and its neighbors' labels — converges in
    * graph-diameter rounds, and near-dup graphs are short-diameter by
    * nature (clusters of mutual near-copies). Per round the shuffle
    * carries (id, label) longs only, never documents; fails fast with
    * the round count if `maxIter` is hit (pathological chain — raise it
    * or fall back to keep-first).
    *
    * Returns (id, label). Nodes absent from `pairs` are absent here —
    * they are their own singleton components. */
  def componentMin(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // Sever the lineage before iterating: `pairs` usually carries a deep
    // LSH plan, and every round issues several actions — without
    // truncation Catalyst re-analyzes the whole mining DAG per action
    // (measured: ~10x the loop's actual compute on a chain corpus). The
    // checkpoint materializes only (src, dst) longs. localCheckpoint is
    // executor-local; on a cluster with dynamic allocation / lossy
    // executors, set a checkpoint dir and swap in Dataset.checkpoint for
    // the reliable variant — same truncation, durable blocks.
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    // The LABELS relation is checkpointed every round too, not just
    // persisted: persist caches the DATA but leaves the logical plan
    // nesting every prior round's join+agg, so the final plan grows
    // O(rounds) — at round 5 the dumped p_dedup_cc physical plan carried
    // 877 Exchange nodes and driver-side analysis/codegen became the
    // bottleneck. localCheckpoint re-bases the plan on the materialized
    // (id, label) longs, so every round's plan — and the returned one —
    // is exactly one round deep. Superseded rounds' blocks are freed by
    // the ContextCleaner once unreferenced (each is two longs per node).
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy("src").agg(min("label").as("nmin"))
      // ONE pass derives both the new label and the changed flag (a
      // label changes iff some neighbor min is strictly smaller) — the
      // eager checkpoint materializes it in a single join+agg job, and
      // the convergence probe below is a scan of the just-materialized
      // blocks, NOT a second join job (the previous shape re-joined next
      // against old labels, doubling the shuffles per round).
      val next = labels.alias("l")
        .join(nbrMin, col("l.id") === nbrMin("src"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("nmin"), col("l.label"))).as("label"),
          (coalesce(col("nmin"), col("l.label")) < col("l.label")).as("__changed"))
        .localCheckpoint(true)
      val changed = next.where(col("__changed")).count()
      labels = next.select("id", "label")
      converged = changed == 0
      round += 1
    }
    require(converged,
      s"componentMin did not converge within $maxIter rounds — the pair graph has " +
        s"diameter > $maxIter; raise maxIter or use keepFirstFromPairs")
    labels
  }

  /** Keep exactly one doc per connected component of the pair graph —
    * the component minimum (true transitive dedup; compare
    * [[keepFirstFromPairs]]). */
  def keepMinComponent(df: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    val losers = componentMin(pairs, maxIter)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Keep the BEST-scoring doc per connected component (ties → lowest
    * id) — the policy-pluggable variant of [[keepMinComponent]]: pass
    * any quality Column (token count, an LM score, a classifier output)
    * and the duplicate cluster keeps its best member instead of its
    * lowest id. `idCol` must be numeric (the tie-break negates it).
    *
    * Plan shape: the scoring pass carries ONLY (id, score) — column
    * pruning keeps the payload out of it — left-joins the checkpointed
    * (id, label) relation, and reduces to one winner id per label via a
    * map-side-combinable `max(struct(score, −id))`; the full-payload
    * relation is then touched exactly once, by a semi-join on the
    * winner ids. The payload is never window-sorted and never joined
    * twice (the previous shape consumed the scored+labeled corpus
    * relation on both sides of a label join-back, re-running the score
    * expression and the corpus scan — measured as two full extra
    * passes on the chain corpus), mirroring [[exactDedup]]'s agg+join
    * discipline. */
  def keepBestComponent(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      score: Column,
      maxIter: Int = 25): DataFrame = {
    val labels = componentMin(pairs, maxIter).withColumnRenamed("id", idCol)
    val scored = df.select(col(idCol), score.as("__score"))
      .join(labels, Seq(idCol), "left")
      .select(col(idCol), col("__score"),
        coalesce(col("label"), col(idCol)).as("__label"))
    val winners = scored.groupBy("__label")
      .agg(max(struct(col("__score").as("s"), (-col(idCol)).as("negid"))).as("__b"))
      .select((-col("__b.negid")).as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  // -----------------------------------------------------------------
  // paragraph-level dedup
  // -----------------------------------------------------------------

  /** Paragraph-level exact dedup: split every doc on `sep`, drop each
    * paragraph that already occurred earlier in the corpus (first
    * occurrence ordered by (`idCol`, position) survives — within-doc
    * repeats count too), and reassemble the surviving paragraphs in
    * order. The standard weapon against boilerplate (headers, footers,
    * license blocks) that document-level dedup can't see because the
    * surrounding text differs.
    *
    * Returns `df` with `textCol` rewritten (docs whose every paragraph
    * occurred earlier elsewhere come back as ""); other columns ride
    * along. Plan shape: the first-occurrence rule is the same
    * agg+join as [[exactDedup]] — `groupBy(96-bit paragraph hash)
    * .agg(min(struct(id, pos)))` with map-side partial aggregation, so a
    * boilerplate paragraph repeated 10⁹ times costs a linear scan, never
    * a 10⁹-row sort (a `row_number` window would sort every occurrence
    * group by (id, pos)); reassembly is one shuffle of the surviving
    * paragraphs on the doc id. Paragraph text itself is never a shuffle
    * key. */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df.select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1)))
      .toDF(idCol, "__pos", "__para")
    val withFp = paras
      .withColumn("__fp", xxhash64(col("__para")))
      .withColumn("__fp2", hash(col("__para")))
    val firsts = withFp.groupBy("__fp", "__fp2")
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
    val kept = withFp.join(firsts, Seq("__fp", "__fp2"))
      .where(col(idCol) === col(s"__first.$idCol") &&
        col("__pos") === col("__first.__pos"))
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__para")))),
          s => s.getField("__para")),
        sep).as("__rebuilt"))
    df.drop(textCol).join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol, coalesce(col("__rebuilt"), lit("")))
      .drop("__rebuilt")
  }

  // -----------------------------------------------------------------
  // exact decontamination at scale (Bloom prefilter)
  // -----------------------------------------------------------------

  /** Exact-match decontamination: drop every corpus row whose `textCol`
    * equals some `ref` row's `refTextCol` (reference behavior: filtering a
    * training corpus against held-out benchmark text). Semantically a
    * left-anti join — but at 100 TB a plain anti-join must either
    * broadcast `ref` (fails once the benchmark suite outgrows the
    * broadcast cap) or shuffle the ENTIRE corpus on the join key. This
    * variant builds a Bloom filter of the reference fingerprints
    * (distributed `stat.bloomFilter` aggregate; ~1.2 GB for 10⁹ items at
    * 1% fpp — broadcastable long after the raw key set is not) and splits
    * the corpus with it: provable non-matches pass through with NO
    * shuffle, and only candidates (true matches + fpp·N false positives)
    * enter an exact anti-join on (fingerprint, text) that restores exact
    * text-equality semantics regardless of Bloom or hash collisions.
    *
    * Cost model: two narrow corpus scans (clean / candidate split)
    * versus one full-corpus exchange — on columnar storage the scans are
    * far cheaper, and the candidate shuffle is bounded by the
    * contamination rate, not the corpus size. `expectedRefItems <= 0`
    * triggers a keys-only count of `ref` to size the filter. */
  def bloomDecontaminate(
      corpus: DataFrame,
      textCol: String,
      ref: DataFrame,
      refTextCol: String,
      expectedRefItems: Long = -1L,
      fpp: Double = 0.01): DataFrame = {
    val spark = corpus.sparkSession
    val refKeys = ref
      .select(xxhash64(col(refTextCol)).as("__rfp"), col(refTextCol).as("__rtext"))
      .dropDuplicates("__rfp", "__rtext")
    val n = if (expectedRefItems > 0) expectedRefItems else refKeys.count()
    if (n == 0) return corpus
    val bloom = refKeys.stat.bloomFilter("__rfp", n, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def might(c: Column): Column =
      ColumnBridge.column(BloomMightContainExpr(ColumnBridge.expression(c), bc))
    val withFp = corpus.withColumn("__fp", xxhash64(col(textCol)))
    val clean = withFp.where(!might(col("__fp")))
    val candidates = withFp.where(might(col("__fp")))
    val checked = candidates.join(refKeys,
      candidates("__fp") === refKeys("__rfp") &&
        candidates(textCol) === refKeys("__rtext"),
      "left_anti")
    clean.unionByName(checked).drop("__fp")
  }
}

/** Charikar SimHash as a single codegen'd Catalyst expression: tokenize
  * with the [[WsTokens]] kernel (`split(s, "\\s+")` semantics, including
  * the empty edge tokens), xxhash64 each token byte-range in place
  * (Spark's XXH64, seed 42 — bit-identical to `xxhash64(token)`),
  * accumulate the 64 signed bit-sums, and emit the sign vector — one tight
  * byte loop per row with zero per-token allocation. Replaces an
  * explode + groupBy(64 aggregates) plan (a full shuffle of the token
  * relation) with a narrow projection.
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    SimHash64Expr.simhash(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64Expr.simhash($c.getBytes());")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Hashed shingle/n-gram SET of a whitespace-normalized string as a
  * single codegen'd pass. `byWord = true`: tokens are the single-space-
  * separated runs and element i is XXH64 (seed 42, Spark's `xxhash64`)
  * of the byte range spanning k consecutive tokens — bit-identical to
  * `xxhash64(concat_ws(" ", slice(tokens, i+1, k)))` because the input
  * is already normalized to single spaces. `byWord = false`: a sliding
  * k-codepoint window over the UTF-8 bytes (leading-byte boundaries, the
  * same codepoint semantics as `substring`) — bit-identical to
  * `xxhash64(substr(normed, i, k))`. Shorter-than-k inputs hash the whole
  * string. Elements are deduped in a per-row open-address table and
  * emitted in first-occurrence order.
  *
  * Replaces `transform`/`sequence` higher-order functions, which execute
  * their lambda interpreted per element — measured ~8 ms/doc on 300-gram
  * docs, i.e. the dominant CPU cost of the whole dedup pipeline.
  */
case class ShingleSetExpr(child: Expression, k: Int, byWord: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType
  require(k >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      ShingleSetExpr.set(input.asInstanceOf[UTF8String].getBytes, k, byWord))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleSetExpr.set($c.getBytes(), $k, $byWord));
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = if (byWord) "word_shingle_set" else "char_ngram_set"
}

object ShingleSetExpr {
  private final val Seed = 42L

  private def hashRange(bytes: Array[Byte], start: Int, end: Int): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, end - start, Seed)

  /** Distinct window hashes in first-occurrence order (called from
    * codegen). Windows are produced over byte-offset boundary arrays —
    * token starts/ends for words, codepoint starts for chars. */
  def set(bytes: Array[Byte], k: Int, byWord: Boolean): Array[Long] = {
    val len = bytes.length
    // boundary offsets: for words, offs(i) = start of token i (tokens end
    // at offs(i+1)-1, the separating space); for chars, offs(i) = start of
    // codepoint i. offs(count) = len + 1 (words, virtual separator) / len.
    var offs = new Array[Int](math.max(16, len / 2 + 2))
    var count = 0
    def push(v: Int): Unit = {
      if (count == offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
      offs(count) = v; count += 1
    }
    if (byWord) {
      push(0)
      var i = 0
      while (i < len) {
        if (bytes(i) == ' '.toByte) push(i + 1)
        i += 1
      }
      push(len + 1) // virtual trailing separator: token i spans [offs(i), offs(i+1)-1)
    } else {
      var i = 0
      while (i < len) {
        if ((bytes(i) & 0xc0) != 0x80) push(i) // UTF-8 leading byte
        i += 1
      }
      push(len)
    }
    val n = count - 1 // tokens or codepoints
    val nWindows = if (n < k) 1 else n - k + 1
    // open-address dedup table (power-of-two capacity, occupancy mask)
    var cap = 16
    while (cap < nWindows * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val out = new Array[Long](nWindows)
    var outN = 0
    def add(h: Long): Unit = {
      var idx = (scala.util.hashing.byteswap64(h) & (cap - 1)).toInt
      while (used(idx) && table(idx) != h) idx = (idx + 1) & (cap - 1)
      if (!used(idx)) {
        used(idx) = true; table(idx) = h
        out(outN) = h; outN += 1
      }
    }
    if (n < k) add(hashRange(bytes, 0, len))
    else {
      var w = 0
      while (w < nWindows) {
        // word windows end one byte before the next boundary (the space);
        // char windows end exactly at the boundary
        val end = if (byWord) offs(w + k) - 1 else offs(w + k)
        add(hashRange(bytes, offs(w), end))
        w += 1
      }
    }
    if (outN == out.length) out else java.util.Arrays.copyOf(out, outN)
  }
}

/** Number of equal slots of two equal-length MinHash signatures — the
  * unbiased Jaccard estimate used by the LSH verify prefilter; a fused
  * loop replacing an interpreted `aggregate(zip_with(...))` pair. */
case class SigAgreeExpr(
    left: Expression,
    right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.IntegerType

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SigAgreeExpr.agree(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SigAgreeExpr.agree($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sig_agree"
}

object SigAgreeExpr {
  def agree(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }
}

/** `size(array_intersect(a, b))` for two `array<bigint>` inputs, fused:
  * counts the distinct common elements directly off one open-address
  * table instead of materializing the intersection array and then
  * measuring it (Spark's `ArrayIntersect` builds a hash set AND a
  * result array per row; the verify joins only ever read the count).
  * Exactly `size(array_intersect)` semantics — duplicates count once,
  * a null element counts once iff present on both sides — so swapping
  * it under an oracled Jaccard changes nothing the hash compare sees.
  * This is the per-candidate-pair inner loop of every LSH verify join;
  * at 100 TB the candidate relation is the largest compute-dense
  * intermediate in the dedup family, so per-row allocation is the term
  * that scales. */
case class IntersectCountExpr(
    left: Expression,
    right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types.{ArrayType, IntegerType}

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"intersect_count expects two array<bigint>, got ${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCountExpr.count(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.IntersectCountExpr.count($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "intersect_count"
}

object IntersectCountExpr {
  private final val EMPTY: Byte = 0
  private final val PRESENT: Byte = 1
  private final val COUNTED: Byte = 2

  /** |distinct(a) ∩ distinct(b)| over long arrays. Builds one
    * open-address table from the SMALLER side (dedup on insert), then
    * probes with the larger side, counting each table element at most
    * once — bit-identical to `size(array_intersect(a, b))` including
    * the count-null-once rule, without the result-array allocation. */
  def count(aIn: org.apache.spark.sql.catalyst.util.ArrayData,
      bIn: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val (a, b) =
      if (aIn.numElements() <= bIn.numElements()) (aIn, bIn) else (bIn, aIn)
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 || m == 0) return 0
    var cap = 16
    while (cap < n * 2) cap <<= 1
    val table = new Array[Long](cap)
    val state = new Array[Byte](cap)
    var aHasNull = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) aHasNull = true
      else {
        val h = a.getLong(i)
        var idx = (scala.util.hashing.byteswap64(h) & (cap - 1)).toInt
        while (state(idx) != EMPTY && table(idx) != h) idx = (idx + 1) & (cap - 1)
        if (state(idx) == EMPTY) { state(idx) = PRESENT; table(idx) = h }
      }
      i += 1
    }
    var c = 0
    var nullCounted = false
    i = 0
    while (i < m) {
      if (b.isNullAt(i)) {
        if (aHasNull && !nullCounted) { nullCounted = true; c += 1 }
      } else {
        val h = b.getLong(i)
        var idx = (scala.util.hashing.byteswap64(h) & (cap - 1)).toInt
        while (state(idx) != EMPTY && table(idx) != h) idx = (idx + 1) & (cap - 1)
        if (state(idx) == PRESENT) { state(idx) = COUNTED; c += 1 }
      }
      i += 1
    }
    c
  }
}

/** MinHash signature of a hashed-shingle set (`array<long>`) as a single
  * codegen'd expression: base hash x = XXH64(element, 42) mod 2³¹−1 —
  * bit-identical to `pmod(xxhash64(e), P31)` — then slot i is
  * min over elements of (aᵢ·x + bᵢ) mod 2³¹−1, the classic independent
  * min-wise family (same coefficients as [[Dedup.minHashSignature]]). One
  * elements × slots loop per row, zero allocation beyond the output
  * array, replacing an explode + groupBy(numHashes min-aggregates) plan
  * (a full shuffle of the shingle relation) with a narrow projection.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.ArrayType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<bigint> (hashed shingles), got ${other.simpleString}")
    }

  @transient private lazy val as: Array[Long] = Array.tabulate(numHashes)(Dedup.coeffA)
  @transient private lazy val bs: Array[Long] = Array.tabulate(numHashes)(Dedup.coeffB)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      MinHashSigExpr.sig(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], as, bs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minwiseA", as, "long[]")
    val bRef = ctx.addReferenceObj("minwiseB", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.MinHashSigExpr.sig($c, $aRef, $bRef));
       """.stripMargin)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

object MinHashSigExpr {
  private final val P31 = 2147483647L

  /** y mod (2³¹−1) for y ≥ 0 without division: 2³¹ ≡ 1 (mod M), so fold
    * the high bits down twice and subtract once — bit-identical to
    * `floorMod`/`pmod` on this range (y < 2⁶²), ~10× cheaper than the
    * hardware divide in the 10⁸-op signature loop. */
  private def modP31(y: Long): Long = {
    var r = (y & P31) + (y >>> 31)
    r = (r & P31) + (r >>> 31)
    if (r >= P31) r - P31 else r
  }

  /** Signature mins (called from codegen). */
  def sig(elems: org.apache.spark.sql.catalyst.util.ArrayData,
      as: Array[Long], bs: Array[Long]): Array[Long] = {
    val nH = as.length
    val out = new Array[Long](nH)
    java.util.Arrays.fill(out, P31)
    val n = elems.numElements()
    var j = 0
    while (j < n) {
      // base hash may be negative → floorMod; the hot affine loop below
      // has non-negative operands and uses the Mersenne fold
      val x = java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(elems.getLong(j), 42L), P31)
      var i = 0
      while (i < nH) {
        val v = modP31(as(i) * x + bs(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    out
  }
}

object SimHash64Expr {
  private final val Seed = 42L

  /** Single-pass simhash over the UTF-8 bytes (called from codegen). */
  def simhash(bytes: Array[Byte]): Long = {
    val counts = new Array[Int](64)
    def addToken(start: Int, end: Int): Unit = {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + start, end - start, Seed)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    val len = bytes.length
    // split("\\s+") parity: "" → [""]; a leading or trailing separator
    // run also yields an empty token (trim strips spaces, not tabs or
    // newlines)
    if (WsTokens.leadingEmpty(bytes, 0, len)) addToken(0, 0)
    WsTokens.foreachToken(bytes, 0, len)(addToken)
    if (WsTokens.trailingEmpty(bytes, 0, len)) addToken(len, len)
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** `bloom.mightContainLong(child)` over an executor-shared broadcast Bloom
  * filter, codegen'd. The filter rides a Spark broadcast (one copy per
  * executor) rather than the serialized expression tree (one copy per
  * task) — at 10⁹ reference items the filter is ~1.2 GB and per-task
  * shipping would dominate the stage. Used by [[Dedup.bloomDecontaminate]]
  * purely as a prefilter: downstream exact verification makes the overall
  * operator insensitive to its false-positive rate.
  */
case class BloomMightContainExpr(
    child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
  extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def nullSafeEval(input: Any): Any =
    bloom.value.mightContainLong(input.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)$ref.value())" +
        s".mightContainLong($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bloom_might_contain"
}
