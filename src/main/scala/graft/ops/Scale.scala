package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.WsTokens
import graft.io.Fixtures

/** Scale utilities for the shapes AQE alone doesn't fix: deliberate key
  * salting for skewed joins, and bucketed table layout for repeated
  * co-located joins (shuffle paid once at write, never at read).
  */
object Scale {

  /** Spread an unsplittable narrow scan to the session parallelism —
    * the optimization guide's input-skew remedy ("one huge unsplittable
    * file … repartition immediately after the read"). The test corpora
    * arrive as single-row-group parquet files, which no
    * `maxPartitionBytes` / `minPartitionNum` setting can split, so every
    * CPU-dense projection or partial aggregate fused onto the scan runs
    * in 1-2 tasks while the rest of the session idles (measured: 2.0 s
    * single-task profile pass, 0.9 s single-task HTML-strip passes).
    *
    * Conditional: the exchange is added ONLY when the plan's current
    * partitioning cannot reach the session parallelism — at real scale
    * the scan already carries ≥ parallelism splits, the guard is false,
    * and the plan is untouched (a blind repartition here would shuffle
    * the full corpus).
    *
    * `barrier = true` additionally truncates the plan at the spread with
    * a LAZY `localCheckpoint`, for inputs whose downstream derives
    * expensive columns that the optimizer would otherwise (a) push back
    * below the exchange (projection collapse re-serializes the dense
    * work into the 1-2 scan tasks) or (b) duplicate into scan-level
    * filters via predicate/constraint pushdown (measured:
    * `p_pipeline_full`'s token-count gate arrived at the scan with the
    * full 40-regexp stripHtml chain substituted 4×). The checkpoint also
    * lets multi-consumer subtrees (dedup's aggregate + join-back) reuse
    * the materialized rows instead of re-running the scan subtree.
    *
    * Reliability caveat (same as the [[graft.functions.Dedup]] iteration
    * checkpoints): `localCheckpoint` stores blocks in executor-local
    * storage with no replication — on a cluster with dynamic allocation /
    * executor decommission, losing a holder aborts the job instead of
    * recomputing. The guard confines the barrier to inputs narrower than
    * the session parallelism, i.e. small relations; a reliability-critical
    * caller should materialize to durable storage instead. */
  def spreadIfNarrow(df: DataFrame, barrier: Boolean = false): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // toRdd, not .rdd: the guard only needs the PHYSICAL partition count;
    // .rdd would append a row-deserializing conversion to the planned
    // query before asking the same question.
    if (df.queryExecution.toRdd.getNumPartitions < par) {
      val spread = df.repartition(par)
      if (barrier) spread.localCheckpoint(false) else spread
    } else df
  }

  /** Inner equi-join where the LEFT side is skewed on the join keys:
    * left rows get a random salt in [0, saltFactor), the right side is
    * replicated across all salt values, and the join runs on
    * (keys..., salt) — splitting each hot key into `saltFactor` reducers.
    *
    * Use when one key holds a large fraction of rows AND the right side is
    * too big to broadcast but small enough to replicate `saltFactor`×
    * (the classic mid-size dimension with a power-law fact table).
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      saltFactor: Int): DataFrame = {
    require(saltFactor > 1, "saltFactor must be > 1")
    // deterministic salt: hash of all left columns spreads rows evenly
    // without RNG (keeps retries/speculative tasks consistent)
    val salted = left.withColumn("__salt",
      pmod(xxhash64(left.columns.map(col).toIndexedSeq: _*), lit(saltFactor.toLong)).cast("int"))
    val replicated = right.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Synthesize an `m`× documents corpus for scaling measurements. Replica 0
    * is the original; replica i > 0 salts `doc_id` by i·10⁷ and suffixes
    * every token with `_i`, making replica vocabularies pairwise disjoint —
    * so the near-dup/dup density per replica matches the base corpus instead
    * of every row gaining m−1 artificial twins (which would measure a
    * different, quadratically harder workload, not a bigger one).
    */
  def scaleDocuments(df: DataFrame, m: Int): DataFrame = {
    require(m >= 1, "multiplier must be >= 1")
    (1 until m).foldLeft(df) { (acc, i) =>
      acc.unionByName(df.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        array_join(transform(WsTokens.split(col("text")),
          t => concat(t, lit(s"_$i"))), " ").as("text"),
        col("lang"), col("source"),
        col("n_chars")))
    }
  }

  /** Synthesize an `m`× embeddings corpus: replica i > 0 salts `vec_id` by
    * i·10⁷ and rotates the vector left by i positions — norms and the
    * within-replica cosine structure are preserved while cross-replica
    * cosines stay far from 1 for non-degenerate vectors.
    */
  def scaleEmbeddings(df: DataFrame, m: Int, dim: Int): DataFrame = {
    require(m >= 1, "multiplier must be >= 1")
    (1 until m).foldLeft(df) { (acc, i) =>
      acc.unionByName(df.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        concat(slice(col("embedding"), i + 1, dim - i),
          slice(col("embedding"), 1, i)).as("embedding"),
        col("label")))
    }
  }

  /** Write the `m`× corpus of `sfDir` — [[scaleDocuments]] and
    * [[scaleEmbeddings]] (dim 64) as `documents.parquet` and
    * `embeddings.parquet` — to a fresh scratch dir deleted at JVM exit.
    * The one writer of the scaled dirs that Bench's scale curve and
    * PerfProbe's `--scale:m` run the curve queries against. Returns the
    * dir and its documents row count. */
  def writeScaledCorpus(spark: SparkSession, sfDir: String, m: Int): (String, Long) = {
    val dir = Fixtures.scratch(s"graft-scale-x$m-")
    scaleDocuments(Tables.read(spark, sfDir, "documents"), m)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    scaleEmbeddings(Tables.read(spark, sfDir, "embeddings"), m, dim = 64)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    (dir, spark.read.parquet(s"$dir/documents.parquet").count())
  }

  /** Write a table bucketed (and sorted) by join keys: subsequent equi-joins
    * between tables bucketed the same way run shuffle-free — the layout a
    * 100 TB fact/fact join needs. Bucketing lives in the catalog, so the
    * layout is a saveAsTable table: managed in the warehouse, or external
    * with its files at `path`. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil,
      path: Option[String] = None): Unit = {
    // pre-partition on the bucket columns (bucketBy assigns files with
    // the same murmur3 hash): one task per bucket → one file per
    // bucket, instead of every task emitting a file for each bucket it
    // happens to hold (tasks × buckets small files)
    var w = df.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    path.foreach(p => w = w.option("path", p))
    w.saveAsTable(table)
  }
}
