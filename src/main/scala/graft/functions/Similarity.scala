package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), built from
  * codegen'd array expressions (`zip_with`/`aggregate`) — no UDFs.
  *
  * Scale design: queries are a small relation → **broadcast** against the
  * corpus (brute force scans the corpus exactly once, embarrassingly
  * parallel, no shuffle of the corpus). The IVF variant prunes the scan to
  * `nProbe/nCentroids` of the corpus after one co-partitioned assignment
  * pass; centroids are tiny and always driver-resident (that is how IVF
  * works on clusters too). Hyperplane LSH gives shuffle-free bucketed
  * near-dup detection.
  */
object Similarity {

  /** Σ aᵢ·bᵢ — fixed left-to-right double fold: deterministic across
    * runs. Backed by the codegen'd [[DotExpr]]: one fused loop per row
    * instead of an interpreted `aggregate(zip_with(...))` closure pair
    * (higher-order functions execute their lambdas interpreted per
    * element — the dominant CPU cost of the ANN scans). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = l2Norm(a) * l2Norm(b)
    when(d === 0, lit(0.0)).otherwise(dot(a, b) / d)
  }

  /** L2-normalize a float embedding (zero vectors pass through
    * unchanged) — fused norm+scale loop ([[NormalizeExpr]]), same
    * arithmetic as `transform(a, x => (x / sqrt(dot(a,a))).cast("float"))`. */
  def normalize(a: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NormalizeExpr(ColumnBridge.expression(a)))
  }

  /** [[normalize]] widened to `array<double>` — the vector every
    * deterministic fit, probe and LUT below reads. */
  private def normalizedD(a: Column): Column = transform(normalize(a), x => x.cast("double"))

  /** Same total order as the final ranking window: cosine desc, id asc.
    * The id comparison mirrors Spark's ordering for the common id types so
    * local pruning never drops a row the global window would keep. */
  private def rankedBefore(cosA: Double, idA: Any, cosB: Double, idB: Any): Boolean =
    if (cosA != cosB) cosA > cosB
    else (idA, idB) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case (x: java.lang.Number, y: java.lang.Number) => x.doubleValue < y.doubleValue
      case (x, y)                 => String.valueOf(x) < String.valueOf(y)
    }

  /** Two-phase top-k of a scored (query, id, `cosine`) relation: per
    * input partition, keep only the k best rows per query (bounded heap);
    * the global `rank` window then shuffles ≤ k·partitions rows per query
    * instead of the whole scored relation into one reducer per query —
    * the difference between 5 reducers sorting N rows each and a trivial
    * final merge at 100 TB.
    */
  private def twoPhaseTopK(
      scored: DataFrame,
      queryIdCol: String,
      idCol: String,
      k: Int): DataFrame = {
    val schema = scored.schema
    val qIdx = schema.fieldIndex(queryIdCol)
    val iIdx = schema.fieldIndex(idCol)
    val cIdx = schema.fieldIndex("cosine")
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    val pruned = scored.mapPartitions { it =>
      // Per query: min-heap of size k ordered so the WORST kept row is on top.
      val worstOnTop: Ordering[Row] = Ordering.fromLessThan[Row] { (a, b) =>
        rankedBefore(a.getDouble(cIdx), a.get(iIdx), b.getDouble(cIdx), b.get(iIdx))
      }
      val heaps = mutable.HashMap[Any, mutable.PriorityQueue[Row]]()
      it.foreach { r =>
        val h = heaps.getOrElseUpdate(r.get(qIdx), mutable.PriorityQueue.empty(worstOnTop))
        h.enqueue(r)
        if (h.size > k) h.dequeue()
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val w = Window.partitionBy(queryIdCol).orderBy(col("cosine").desc, col(idCol))
    pruned.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Brute-force cosine top-k: for every row of `queries`, the `k` nearest
    * corpus rows. Exact baseline; one broadcast-join scan of the corpus,
    * per-partition top-k pruning, then a tiny global ranking window.
    *
    * Output: (queryIdCol, idCol, cosine, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol), normalize(col(vecCol)).as("__cv"))
    val q = queries.select(col(queryIdCol), normalize(col(queryVecCol)).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col(queryIdCol), col(idCol),
        dot(col("__qv"), col("__cv")).as("cosine"))
    twoPhaseTopK(scored, queryIdCol, idCol, k)
  }

  /** Deterministic pseudo-random unit hyperplanes: component j of plane i =
    * a fixed integer hash mapped into [-1, 1]. Same planes on every
    * executor with zero state shipped. */
  private def hyperplane(i: Int, dim: Int): Column =
    array((0 until dim).map { j =>
      // splitmix64-style scramble of (i, j) → [-1, 1]
      val h = {
        var z = (i.toLong << 32) + j + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      lit((h.toDouble / Long.MaxValue.toDouble))
    }: _*)

  /** Sign-random-projection LSH signature: bit i = sign(v · plane_i).
    * Returns a compact long bucket key. */
  def hyperplaneSignature(vec: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(dot(vec, hyperplane(i, dim)) >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  /** Candidate pairs (idA < idB) sharing at least one hyperplane-LSH
    * bucket, from a normalized (`__id`, `__v`) relation. The banded
    * relation carries ONLY (bucket, id) — a 64-float vector riding the
    * self-join exchange once per LSH table is `tables`× the shuffle bytes
    * of the whole corpus, the largest intermediate in the plan. Vectors
    * are joined back by the caller once per *deduped* pair. */
  private[graft] def embeddingCandidatePairs(
      normed: DataFrame,
      dim: Int,
      bits: Int,
      tables: Int,
      maxBucketSize: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sigs = ColumnBridge.column(
      HyperplaneSigsExpr(ColumnBridge.expression(col("__v")), dim, bits, tables))
    val bucketed = normed
      .select(col("__id"), posexplode(sigs).as(Seq("__t", "__sig")))
      .select(col("__id"),
        struct(col("__t").cast("int").as("t"), col("__sig").as("sig")).as("__bucket"))
    // Drop oversized (adversarial) buckets via a tiny aggregated count +
    // broadcast anti-join — a count-window here would sort-shuffle the
    // whole banded relation.
    val oversized = bucketed.groupBy("__bucket").agg(count(lit(1)).as("__bn"))
      .where(col("__bn") > maxBucketSize).select("__bucket")
    val sized = bucketed.join(broadcast(oversized), Seq("__bucket"), "left_anti")
    val a = sized.select(col("__bucket"), col("__id").as("id_a"))
    val b = sized.select(col("__bucket"), col("__id").as("id_b"))
    a.join(b, Seq("__bucket"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding near-duplicate pairs: bucket by hyperplane signature
    * (cosine-similar vectors collide with high probability), dedup the
    * candidate pairs, then join vectors back ONCE per pair and verify
    * cosine ≥ threshold exactly. Multi-probe: `tables` independent
    * signatures (bit offsets) to boost recall.
    *
    * Signatures come from the custom codegen'd [[HyperplaneSigsExpr]] —
    * one fused loop over tables×bits×dim per row instead of tables×bits
    * separate higher-order dot-product expressions (each of which
    * allocated a zipped array per evaluation). */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.95,
      bits: Int = 12,
      tables: Int = 4,
      maxBucketSize: Int = 10000): DataFrame = {
    // the normalized relation feeds candidate generation and both vector
    // join-backs — cache it, like the MinHash signatures
    val normed =
      df.select(col(idCol).as("__id"), normalize(col(vecCol)).as("__v")).persist()
    val pairs = embeddingCandidatePairs(normed, dim, bits, tables, maxBucketSize)
    // pin the cosine-verification stage's exchange on the second join's
    // own key with an explicit count (the Dedup.estimateAndVerify
    // discipline): candidates are two longs per row, so AQE's byte-based
    // coalescing would otherwise run the O(dim)-per-pair verification
    // nearly serially once the candidate bytes drop under the
    // per-partition floor
    val par = df.sparkSession.sparkContext.defaultParallelism
    pairs
      .join(normed.select(col("__id").as("id_a"), col("__v").as("__va")), Seq("id_a"))
      .repartition(par, col("id_b"))
      .join(normed.select(col("__id").as("id_b"), col("__v").as("__vb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Top-`topN` nearest centroids of a vector as `array<int>` of matrix
    * row indices (score desc, index desc on ties — the `greatest(struct)`
    * order of the expression tree this replaces). One fused row-loop over
    * the centroid matrix ([[NearestCentroidsExpr]], matrix shipped via the
    * codegen reference mechanism) — a per-centroid `greatest(struct(dot…))`
    * tree stops codegen'ing past a few dozen centroids (64KB method /
    * constant-pool limits) and pays O(nCentroids) interpreted dispatches
    * per row, which is fatal at the √N ≈ tens-of-thousands cells IVF wants
    * at corpus scale. */
  private[graft] def nearestCentroids(v: Column, centroids: Seq[Seq[Float]], topN: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NearestCentroidsExpr(ColumnBridge.expression(v), centroids, topN))
  }

  /** One Lloyd refinement pass over an assigned corpus (`__cid`, `__cv`):
    * per-cell mean vector, L2-renormalized. The per-cell sums come from a
    * vector-sum partial aggregate ([[VecSumAgg]]) — map-side combine means
    * the shuffle carries O(partitions × nCentroids × dim) doubles, where
    * the `posexplode` plan it replaces shuffled N × dim (cid, pos, x)
    * rows, i.e. the whole corpus re-keyed. */
  private[graft] def lloydRefine(assigned: DataFrame, dim: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val vecSum = ColumnBridge.column(
      VecSumAgg(ColumnBridge.expression(col("__cv")), dim).toAggregateExpression())
    assigned
      .groupBy("__cid")
      .agg(vecSum.as("__sum"), count(lit(1)).as("__n"))
      .select(col("__cid"),
        normalize(transform(col("__sum"),
          x => (x / col("__n")).cast("float"))).as("__centroid"))
  }

  /** A built IVF index: the refined centroid matrix (driver-resident,
    * O(√N·dim) by construction) and the cell-assigned corpus relation
    * (`idCol`, `__cv`, `__cid`). Build once with [[buildIvfIndex]],
    * search any number of query batches with [[searchIvf]] — persist
    * `cells` between searches to pay the assignment scan once. */
  final case class IvfIndex private[functions] (
      centroids: Seq[Seq[Float]],
      cells: DataFrame,
      idCol: String)

  /** Build the IVF index for a non-empty corpus: deterministic
    * hash-sampled seed centroids, one Lloyd refinement pass
    * ([[lloydRefine]] — vector-sum partial aggregate, no corpus
    * explode), then the fused-matrix cell assignment. */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int = 16): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._

    val normed = corpus.select(col(idCol), normalize(col(vecCol)).as("__cv"))
    val total = normed.count()
    require(total > 0, "buildIvfIndex needs a non-empty corpus")

    // Seed centroids: deterministic hash-sample of ~2 candidates per cell,
    // then the first nCentroids by hash — no global sort, one small
    // aggregation regardless of corpus size.
    val sampleRate = math.min(1.0, (nCentroids * 2.0) / math.max(1L, total))
    val hashed = normed.withColumn("__h", pmod(xxhash64(col(idCol)), lit(1000000L)))
    val seeds = hashed
      .where(col("__h") < (sampleRate * 1000000L).toLong)
      .orderBy("__h")
      .limit(nCentroids)
      .withColumn("__cid", (row_number().over(Window.orderBy("__h")) - 1).cast("int"))
      .select(col("__cid"), col("__cv").as("__centroid"))

    // Cell labels are matrix row indices — consistent between the corpus
    // assignment and the query probes because both use the same matrix.
    // Non-nullable like [[kmeansAssignCol]] (same inferred-isnotnull
    // duplication when __cid becomes a join key).
    def nearestCid(matrix: Seq[Seq[Float]], v: Column): Column = {
      require(matrix.nonEmpty, "nearestCid: empty centroid set")
      assignedOrRaise(nearestCentroids(v, matrix, 1).getItem(0), "buildIvfIndex")
    }

    var seedArr = seeds.as[(Int, Seq[Float])].collect()
    // The probabilistic threshold can under-sample a small corpus; top up
    // with a plain take-ordered (no threshold) — still no full sort.
    if (seedArr.length < math.min(nCentroids.toLong, total)) {
      seedArr = hashed.orderBy("__h").limit(nCentroids)
        .withColumn("__cid", (row_number().over(Window.orderBy("__h")) - 1).cast("int"))
        .select(col("__cid"), col("__cv").as("__centroid"))
        .as[(Int, Seq[Float])].collect()
    }
    val seedMatrix = seedArr.sortBy(_._1).map(_._2).toSeq

    // One Lloyd pass: assign → per-cell vector-sum aggregate → renormalize.
    val assigned = normed.withColumn("__cid", nearestCid(seedMatrix, col("__cv")))
    val dim = seedMatrix.head.length
    val centroids = lloydRefine(assigned, dim)
      .as[(Int, Seq[Float])].collect().sortBy(_._1).map(_._2).toSeq

    val cells = normed.withColumn("__cid", nearestCid(centroids, col("__cv")))
    IvfIndex(centroids, cells, idCol)
  }

  /** Search a built [[IvfIndex]]: each query probes its `nProbe` nearest
    * cells only. Output: (queryIdCol, idCol, cosine, rank) — approximate. */
  def searchIvf(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val qn = queries.select(col(queryIdCol), normalize(col(queryVecCol)).as("__qv"))
    val probes = qn.withColumn("__cid",
      explode(nearestCentroids(col("__qv"), index.centroids, nProbe)))
    val scored = index.cells.join(broadcast(probes), Seq("__cid"))
      .select(col(queryIdCol), col(index.idCol),
        dot(col("__qv"), col("__cv")).as("cosine"))
    twoPhaseTopK(scored, queryIdCol, index.idCol, k)
  }

  /** SEMANTIC decontamination — the embedding member of the
    * decontamination family (exact / Bloom / 13-gram cover lexical
    * leaks; this catches paraphrases and re-encodings): keep only
    * corpus rows whose max cosine against the EVAL set stays below
    * `threshold`.
    *
    * Scale shape: eval sets are small by nature, so the eval side
    * broadcasts; the corpus VECTORS are read once on the scoring branch
    * (cosine-vs-every-eval is a narrow projection per corpus row, and
    * the per-id max combines map-side so the exchange carries one
    * (id, max) pair per corpus row), then survivors rejoin the corpus
    * relation by id — a second scan of the corpus, but one Catalyst
    * prunes to the passthrough columns (cache the input if even that
    * read matters). The corpus never shuffles its vectors. An EMPTY
    * eval set keeps everything (scores coalesce to −2, below any
    * threshold) — the operator is total. */
  def semanticDecontaminate(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      evalSet: DataFrame,
      evalVecCol: String,
      threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold must be in (-1, 1], got $threshold")
    val c = corpus.select(col(idCol), normalize(col(vecCol)).as("__cv"))
    val ev = evalSet.select(normalize(col(evalVecCol)).as("__ev"))
    val scored = c.crossJoin(broadcast(ev))
      .groupBy(idCol).agg(max(dot(col("__cv"), col("__ev"))).as("max_eval_cos"))
    corpus.join(scored, Seq(idCol), "left")
      .where(coalesce(col("max_eval_cos"), lit(-2.0)) < threshold)
      .drop("max_eval_cos")
  }

  /** SemDeDup-style semantic near-duplicate pairs: k-means-cluster the
    * embeddings (reusing the IVF index build — hash-sampled seeds, one
    * Lloyd refinement, fused-matrix cell assignment), then score pairs
    * EXACTLY but only within each cell, where semantic duplicates
    * co-locate (Abbas et al. 2023, "SemDeDup" — cluster-then-prune over
    * embedding space). Output: (id_a, id_b, cosine), id_a < id_b,
    * cosine ≥ `threshold`.
    *
    * Scale shape: within-cell pairing is O(Σ n_c²) with n_c ≈ N/nCentroids
    * — pick nCentroids ≈ √N so per-cell work stays bounded; the join key
    * is the dense int cell id and vectors ship cell-partitioned exactly
    * once per side. Cells larger than `maxCellSize` (embedding-space
    * hotspots — raise nCentroids) are excluded via the same aggregated
    * count + broadcast anti-join guard as the LSH buckets, never a
    * count-window sort over the corpus. Misses are exactly the pairs
    * SemDeDup's own design misses: near-dups straddling a cell boundary. */
  def semanticDedupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nCentroids: Int = 16,
      maxCellSize: Int = 10000): DataFrame = {
    val index = buildIvfIndex(corpus, idCol, vecCol, nCentroids)
    // the assigned relation feeds the guard count and BOTH pair sides —
    // cache it, like the LSH signatures, so the centroid assignment runs
    // once, not three times
    val cells = index.cells.persist()
    val oversized = cells.groupBy("__cid").agg(count(lit(1)).as("__cn"))
      .where(col("__cn") > maxCellSize).select("__cid")
    val sized = cells.join(broadcast(oversized), Seq("__cid"), "left_anti")
    val a = sized.select(col("__cid"), col(idCol).as("id_a"), col("__cv").as("__va"))
    val b = sized.select(col("__cid"), col(idCol).as("id_b"), col("__cv").as("__vb"))
    a.join(b, Seq("__cid"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dot(col("__va"), col("__vb")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** IVF (inverted-file) approximate top-k — one-shot form:
    * [[buildIvfIndex]] + [[searchIvf]]. Empty corpus degrades to the
    * (trivially empty) brute-force scan. Centroids are collected to the
    * driver — O(√N · dim), driver-resident by construction in IVF
    * designs. Output: (queryIdCol, idCol, cosine, rank) — approximate. */
  def ivfTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4): DataFrame = {
    if (corpus.isEmpty)
      return bruteForceTopK(corpus, idCol, vecCol, queries, queryIdCol, queryVecCol, k)
    val index = buildIvfIndex(corpus, idCol, vecCol, nCentroids)
    searchIvf(index, queries, queryIdCol, queryVecCol, k, nProbe)
  }

  /** Per-vector affine int8 quantization of a float embedding —
    * `struct(mn, mx, codes)` with `codeᵢ = round((xᵢ−mn)·255/(mx−mn))`
    * in [0, 255] (constant vectors → all-zero codes). 4× memory cut for
    * a 100 TB embedding store (codes pack to bytes on parquet; two
    * doubles of per-vector scale metadata). Arithmetic is double with a
    * fixed association, so any engine replays the codes bit-exactly. */
  def quantizeInt8(vec: Column): Column = {
    val mn = array_min(vec).cast("double")
    val mx = array_max(vec).cast("double")
    val codes = when(mx === mn, transform(vec, _ => lit(0)))
      .otherwise(transform(vec, x =>
        least(lit(255), round((x.cast("double") - mn) * lit(255.0) / (mx - mn)).cast("int"))))
    struct(mn.as("mn"), mx.as("mx"), codes.as("codes"))
  }

  /** Reconstruct the double embedding from [[quantizeInt8]] codes:
    * `mn + code·(mx−mn)/255` (constant vectors reconstruct to `mn`
    * because every code is 0). */
  def dequantizeInt8(q: Column): Column = {
    val mn = q.getField("mn")
    val span = q.getField("mx") - mn
    transform(q.getField("codes"), c => mn + c.cast("double") * span / lit(255.0))
  }

  /** Per-dimension embedding profile: count, positive-count, min and max
    * for every vector dimension — the "is my embedding store sane"
    * monitoring view (dead dimensions, scale drift, clipped values).
    *
    * Scale shape: `posexplode` widens each row to `dim` rows but the
    * aggregation is map-side combinable onto at most `dim` keys, so the
    * single exchange ships `partitions × dim` partial rows regardless of
    * corpus size. min/max/counts are exact (no float summation), so the
    * result hash-compares across engines. */
  def embeddingProfile(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__v") > 0, 1L).otherwise(0L)).as("n_pos"),
        min(col("__v")).cast("double").as("min_v"),
        max(col("__v")).cast("double").as("max_v"))

  /** Deterministic mean-pooling of vectors per group (label centroids,
    * chunk→document pooling): element-wise mean computed as a TWO-LEVEL
    * ORDERED FOLD — vectors fold in ascending id order inside fixed
    * id-range blocks (`id div blockSize`), block sums then fold in block
    * order. The floating-point operation sequence is therefore a pure
    * function of the data, independent of partitioning and parallelism —
    * bit-identical across runs, cluster sizes, and engines (an external
    * system replaying the same fold reproduces every double exactly).
    * Contrast [[VecSumAgg]] (the IVF-internal centroid sum): order-free
    * and cheapest, but FP-accumulation-order dependent — fine for
    * k-means, wrong for auditable/reproducible artifacts.
    *
    * Scale shape: blocks bound the collect_list working set to
    * `blockSize × dim` doubles per group; the per-label second level
    * holds `n_label/blockSize` block sums. Both aggregations are ordinary
    * hash aggs on (label, block) / label keys. */
  def meanPoolExact(
      df: DataFrame,
      labelCol: String,
      idCol: String,
      vecCol: String,
      blockSize: Int = 1024): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    def foldSorted(sorted: Column, field: String): Column =
      aggregate(
        slice(sorted, lit(2), size(sorted) - 1),
        element_at(sorted, 1).getField(field),
        (acc, sv) => zip_with(acc, sv.getField(field), (a, b) => a + b))
    val vecD = transform(col(vecCol), x => x.cast("double"))
    val blocks = df
      .select(col(labelCol), col(idCol).as("__i"), vecD.as("__v"),
        expr(s"`$idCol` div $blockSize").as("__blk"))
      .groupBy(col(labelCol), col("__blk"))
      .agg(count(lit(1)).as("__bn"),
        sort_array(collect_list(struct(col("__i"), col("__v")))).as("__svs"))
      .select(col(labelCol), col("__blk"), col("__bn"),
        foldSorted(col("__svs"), "__v").as("__bs"))
    blocks
      .groupBy(col(labelCol))
      .agg(sum(col("__bn")).as("n"),
        sort_array(collect_list(struct(col("__blk"), col("__bs")))).as("__sbs"))
      .select(col(labelCol), col("n"),
        transform(foldSorted(col("__sbs"), "__bs"),
          x => x / col("n").cast("double")).as("centroid"))
  }

  /** Deterministic spherical k-means assignment over an embedding
    * column — the clustering primitive behind cluster-balanced sampling,
    * topic bucketing, and SemDeDup-style curation. Every arithmetic step
    * is a fixed-order operation so the assignment is a pure function of
    * the data, replayable bit-for-bit by an external engine:
    *
    *  - inputs L2-normalize via [[NormalizeExpr]] (float arithmetic),
    *    then widen to double;
    *  - seeds = the `k` lowest-id vectors, `cid` 0..k-1 in id order;
    *  - assignment = argmax of the [[DotExpr]] left-to-right fold
    *    against each centroid, ties to the lowest cid;
    *  - update = [[meanPoolExact]]'s two-level ordered fold, then an
    *    L2 re-normalization in doubles;
    *  - a centroid that loses all members drops (documented dead-cluster
    *    policy — the standard alternatives re-seed randomly, which would
    *    forfeit determinism).
    *
    * Scale shape: the fit is [[lloydFit]] with one group — the corpus
    * is cached once, and each round is one action: a fused
    * `NearestCentroidDoubleExpr` projection against the driver-resident
    * matrix, [[meanPoolExact]]'s two aggregations (the only shuffles),
    * and a collect of the k new centroids. Nothing is ever all-pairs.
    * Output: (idCol, cid) after `rounds` assignment rounds. */
  def kmeansAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int,
      blockSize: Int = 1024): DataFrame = {
    val (v, cids, matrix) = kmeansFit("kmeansAssign", df, idCol, vecCol, k, rounds, blockSize)
    v.select(col(idCol), kmeansAssignCol(col("__v"), cids, matrix).cast("int").as("cid"))
  }

  /** Assignment of the normalized-double vector `v` against the
    * driver-resident matrix: one fused loop per row, index mapped back
    * to the surviving cid. Rows are ordered by ascending cid, so the
    * strict-> comparison inside the expression realizes the
    * ties-to-lowest-cid rule.
    *
    * NON-NULLABLE by construction ([[assignedOrRaise]]: the fused argmax
    * returns a valid matrix index for every well-formed vector, and the
    * query fails on any other): when the assignment column is a
    * join/group key downstream,
    * a nullable alias makes `InferFiltersFromConstraints` add
    * `isnotnull(<alias>)` and predicate pushdown then substitutes the
    * ENTIRE defining expression into the scan-stage filter — measured as
    * a 13–22 KB `isnotnull(element_at(..., nearest_centroid_d(...)))`
    * condition re-evaluating the whole k-means assignment per row, at ANY
    * partition count. A non-nullable alias generates no such constraint,
    * so the fix is scale-independent (round-15 verdict task 1). */
  private def kmeansAssignCol(v: Column, cids: Array[Int], matrix: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(cids.nonEmpty && matrix.nonEmpty, "kmeansAssignCol: empty centroid set")
    assignedOrRaise(element_at(lit(cids), ColumnBridge.column(
      NearestCentroidDoubleExpr(ColumnBridge.expression(v), matrix)) + 1),
      "kmeansAssign")
  }

  /** `cell`, failing the query on a row without one (a null vector, a
    * null element or a dimension mismatch), typed non-nullable. */
  private def assignedOrRaise(cell: Column, op: String): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val raise = raise_error(lit(s"$op: null vector, null element or dimension mismatch"))
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(
      ColumnBridge.expression(coalesce(cell, raise))))
  }

  /** Stateless cell assignment against a driver-resident index — the
    * SERVING half of the build/serve split every production vector
    * index runs: [[kmeansFit]] builds the index batch, and arriving
    * vectors are routed to their cell by ONE codegen'd
    * `NearestCentroidDoubleExpr` projection per row — zero shuffle,
    * zero state, streaming-safe by construction (the ingest path of an
    * IVF index: route, then append to the cell's shard). */
  def assignCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cids: Array[Int],
      matrix: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol), kmeansAssignCol(normalizedD(col(vecCol)), cids, matrix).cast("int")
      .as("cell"))

  /** A codebook: the surviving cids, ascending, and their centroid rows. */
  private[graft] type Codebook = (Array[Int], Seq[Seq[Double]])

  /** The one deterministic Lloyd fit, behind [[kmeansFit]] (one group)
    * and [[pqFit]] (one group per subspace): `groups` codebooks over the
    * rows of `v` (`idCol`, `__v`), group g over `__v[g·w, (g+1)·w)` for
    * `subDim = Some(w)`, over all of `__v` for `None`. Seeding, ties and
    * dead clusters follow [[kmeansAssign]]; the seeds of every group come
    * from one `k`-lowest-id collect, sliced on the driver. Each further
    * round assigns every group in one pass, pools them with ONE
    * [[meanPoolExact]] keyed by `g·k + cid`, applies `update` and
    * collects once, so a fit runs `rounds` actions for any group count.
    * A label's rows are one group's members of one cid, so each double
    * is what fitting that group alone gives. One group is not exploded:
    * its label is the plain cid. `op` names the caller in the
    * empty-corpus failure. */
  private def lloydFit(
      op: String,
      v: DataFrame,
      idCol: String,
      groups: Int,
      subDim: Option[Int],
      k: Int,
      rounds: Int,
      blockSize: Int)(
      assign: (Column, Codebook) => Column,
      update: Column => Column): Seq[Codebook] = {
    require(k > 0 && rounds > 0, "k and rounds must be positive")
    def part(g: Int): Column = subDim.fold(col("__v"))(w => slice(col("__v"), g * w + 1, w))
    val seedRows = v.orderBy(col(idCol)).limit(k).collect().map(_.getSeq[Double](1))
    require(seedRows.nonEmpty, s"$op: empty corpus, no seed vectors to fit centroids from")
    var books: Seq[Codebook] = (0 until groups).map { g =>
      val seeds = seedRows.map(r => subDim.fold(r)(w => r.slice(g * w, g * w + w))).toSeq
      (seeds.indices.toArray, seeds)
    }
    var r = 1
    while (r < rounds) {
      def label(g: Int): Column = {
        val cid = assign(part(g), books(g))
        if (g == 0) cid else cid + g * k
      }
      val assigned =
        if (groups == 1) v.select(col(idCol), part(0).as("__s"), label(0).as("__cid"))
        else v.select(col(idCol), inline(array((0 until groups).map(g =>
          struct(part(g).as("__s"), label(g).as("__cid"))): _*)))
      val pooled = meanPoolExact(assigned, "__cid", idCol, "__s", blockSize)
        .select(col("__cid"), update(col("centroid")))
        .collect().map(row => row.getInt(0) -> row.getSeq[Double](1))
        .sortBy(_._1)
      books = (0 until groups).map { g =>
        val mine = pooled.filter(_._1 / k == g)
        (mine.map(_._1 % k), mine.map(_._2).toSeq)
      }
      r += 1
    }
    books
  }

  /** The deterministic k-means fit behind [[kmeansAssign]], exposed so
    * other index builds (deterministic IVF) can reuse the proven
    * bit-replayable machinery: returns the cached normalized-double
    * relation (`idCol`, `__v`), the surviving cids (ascending), and the
    * matching centroid matrix. */
  private[graft] def kmeansFit(
      op: String,
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int,
      blockSize: Int = 1024): (DataFrame, Array[Int], Seq[Seq[Double]]) = {
    val v = df.select(col(idCol), normalizedD(col(vecCol)).as("__v")).persist()
    val (cids, matrix) = lloydFit(op, v, idCol, 1, None, k, rounds, blockSize)(
      (x, book) => kmeansAssignCol(x, book._1, book._2),
      c => transform(c, x => x / sqrt(dot(c, c)))).head
    (v, cids, matrix)
  }

  /** The deterministic IVF index of `corpus`: [[kmeansFit]]'s cached
    * relation with each row's cell, (`idCol`, `__v`, `__cell`), and the
    * centroids as (`__cell`, `__cv`) rows. */
  private def ivfCells(op: String, corpus: DataFrame, idCol: String, vecCol: String,
      nCells: Int, rounds: Int, blockSize: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (v, cids, matrix) = kmeansFit(op, corpus, idCol, vecCol, nCells, rounds, blockSize)
    (v.select(col(idCol), col("__v"),
        kmeansAssignCol(col("__v"), cids, matrix).cast("int").as("__cell")),
      cids.toSeq.zip(matrix).toDF("__cell", "__cv"))
  }

  /** Deterministic IVF top-k — the engine-replayable variant of
    * [[ivfTopK]]: the index is the [[kmeansFit]] machinery (lowest-id
    * seeding, ordered-fold Lloyd rounds — every double bit-replayable by
    * the generated k-means oracle), cell probing and in-cell scoring are
    * RELATIONAL with pinned tie rules (score desc, cid asc / id asc), so
    * an external engine can replay the ENTIRE approximate search —
    * including which `nProbe` cells each query visits — from the same
    * literals. Use this when the index must be auditable/reproducible
    * across engines; [[ivfTopK]]'s order-free build remains the default.
    *
    * Scale shape: centroids are driver-resident O(k·dim) and broadcast
    * into the probe scoring (k rows per query — tiny); candidates join
    * cells on the dense int cid (vectors ship cell-partitioned once);
    * the final rank is a per-query window over only the probed cells'
    * members. Output: (qidCol, idCol, cosine, rank), rank ≤ `topK`. */
  def ivfTopKDet(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      topK: Int,
      nCentroids: Int,
      rounds: Int,
      nProbe: Int,
      blockSize: Int = 1024,
      memberFilter: Option[Column] = None): DataFrame = {
    require(topK > 0 && nProbe > 0, "topK and nProbe must be positive")
    // the internal scored relation rides the reserved names __v/__cell; a
    // corpus column with either name would collide in the filtered path's
    // join-back (duplicate-name AnalysisException downstream) — fail fast
    // before the fit with a clear message instead. idCol must also be
    // UNIQUE per corpus row: the join-back is by id, so a duplicated id
    // would fan out scored members (documented contract, same as every
    // index build here).
    if (memberFilter.isDefined) {
      val reserved = corpus.columns.filter(c => c == "__v" || c == "__cell")
      require(reserved.isEmpty,
        s"corpus columns ${reserved.mkString(", ")} collide with internal " +
          "names reserved by the filtered IVF path — rename them")
    }
    val (cells0, centDf) =
      ivfCells("ivfTopKDet", corpus, idCol, vecCol, nCentroids, rounds, blockSize)
    // FILTERED search (the vector-DB "metadata predicate" shape): ONE
    // index serves every predicate — the filter applies to cell MEMBERS
    // after probing (post-filter), so the index never rebuilds per
    // predicate and the scan still touches only nProbe cells. The
    // filter may reference any corpus column EXCEPT the vector column
    // itself (the scored vector rides as the internal normalized __v;
    // metadata predicates on the raw vector are not a supported shape):
    // kmeansFit projects to (id, vector), so the remaining corpus
    // columns are joined back in by id — only when a filter is present,
    // and dropped again before probing (the filter never widens the
    // scored relation). At scale this is a co-partitioned by-key
    // self-join whose predicate side Catalyst prunes to exactly the
    // filtered columns.
    val cells = memberFilter.fold(cells0) { f =>
      val extra = corpus.columns.filterNot(c =>
        c.equalsIgnoreCase(idCol) || c.equalsIgnoreCase(vecCol))
      val base =
        if (extra.isEmpty) cells0
        else cells0.join(
          corpus.select(idCol, extra.toIndexedSeq: _*), Seq(idCol))
      base.where(f).select(col(idCol), col("__v"), col("__cell"))
    }
    ivfSearchStage(cells, centDf, idCol, queries, qidCol, qvecCol, topK, nProbe)
  }

  /** The probe + in-cell scoring + rank stage shared by [[ivfTopKDet]]
    * and the persisted-artifact path [[ivfSearchArtifacts]] — one code
    * path, so the artifact round-trip can only differ through the
    * artifacts themselves (it doesn't: parquet doubles are exact). */
  private def ivfSearchStage(
      cells: DataFrame,
      centDf: DataFrame,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      topK: Int,
      nProbe: Int): DataFrame = {
    val qn = queries.select(col(qidCol), normalizedD(col(qvecCol)).as("__qv"))
    val probeW = Window.partitionBy(qidCol)
      .orderBy(dot(col("__qv"), col("__cv")).desc, col("__cell"))
    val probes = qn.crossJoin(broadcast(centDf))
      .withColumn("__pr", row_number().over(probeW))
      .where(col("__pr") <= nProbe)
      .select(col(qidCol), col("__qv"), col("__cell"))
    val rankW = Window.partitionBy(qidCol)
      .orderBy(col("cosine").desc, col(idCol))
    probes.join(cells, Seq("__cell"))
      .select(col(qidCol), col(idCol), dot(col("__qv"), col("__v")).as("cosine"))
      .withColumn("rank", row_number().over(rankW))
      .where(col("rank") <= topK)
  }

  /** Build the deterministic IVF index ([[kmeansFit]] + cell
    * assignment) and persist it as two parquet artifacts under `dir`:
    * `cells` (id, normalized vector, cell id — the cell-sharded corpus)
    * and `centroids` (cell id, centroid vector). This is the production
    * ANN lifecycle at 100 TB: the index is built ONCE by an indexing
    * job and every search job loads the artifacts — nothing refits per
    * query batch. Parquet stores the doubles bit-exactly, so a search
    * over the loaded artifacts is bit-identical to searching the
    * in-memory index. */
  def ivfBuildArtifacts(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nCentroids: Int,
      rounds: Int,
      blockSize: Int,
      dir: String): Unit = {
    val (cells, centDf) =
      ivfCells("ivfBuildArtifacts", corpus, idCol, vecCol, nCentroids, rounds, blockSize)
    cells.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/cells")
    centDf.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/centroids")
  }

  /** Search a persisted IVF index ([[ivfBuildArtifacts]]): loads the
    * cell-sharded corpus + centroid artifacts and runs the identical
    * probe/score/rank stage as [[ivfTopKDet]]. `idCol` names the id
    * column the artifacts were built with. */
  def ivfSearchArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      topK: Int,
      nProbe: Int): DataFrame = {
    val cells = spark.read.parquet(s"$dir/cells")
    val centDf = spark.read.parquet(s"$dir/centroids")
    ivfSearchStage(cells, centDf, idCol, queries, qidCol, qvecCol, topK, nProbe)
  }

  // -----------------------------------------------------------------
  // Product quantization (PQ) — ADC search
  // -----------------------------------------------------------------

  /** Argmin-L2 subspace assignment against a driver-resident codebook:
    * `array_min` over (squared-distance, cid) structs — each distance is
    * a fixed ascending-index fold of exact `(x−c)²` terms, the struct
    * min realizes ties-to-lowest-cid — so the code is a pure function
    * of the data, replayable as `row_number() OVER (ORDER BY dist2, cid)`
    * in an external engine. */
  private def argminL2Col(sub: Column, book: Codebook): Column = {
    val entries = book._1.toSeq.zip(book._2).map { case (cid, c) =>
      struct(
        aggregate(zip_with(sub, lit(c.toArray), (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, b) => a + b).as("d"),
        lit(cid).as("i"))
    }
    array_min(array(entries: _*)).getField("i")
  }

  /** Deterministic product-quantization codebooks, one per subspace,
    * all `m` fitted by one [[lloydFit]]: plain Euclidean k-means (min-L2
    * assignment, NO renormalization — PQ approximates subvectors, not
    * directions; contrast the spherical [[kmeansFit]]). `v` is used
    * as-is, so IVF-PQ can quantize residuals (renormalizing one would
    * break `query·x ≈ query·cell + query·residual`). Vectors must have
    * `m · subDim` dimensions. Driver-resident, O(m·k·subDim) doubles. */
  private[graft] def pqFit(
      op: String,
      v: DataFrame,
      idCol: String,
      m: Int,
      subDim: Int,
      k: Int,
      rounds: Int,
      blockSize: Int): Seq[Codebook] = {
    require(m > 0 && subDim > 0, "m and subDim must be positive")
    lloydFit(op, v, idCol, m, Some(subDim), k, rounds, blockSize)(argminL2Col, identity)
  }

  /** The PQ code columns `__c0 … __c{m-1}` of the `__v` rows. */
  private def pqCodes(books: Seq[Codebook], subDim: Int): Seq[Column] =
    books.zipWithIndex.map { case (book, mi) =>
      argminL2Col(slice(col("__v"), mi * subDim + 1, subDim), book).as(s"__c$mi")
    }

  /** The ADC lookup arrays `__l0 … __l{m-1}` of the `__qv` rows: slot
    * j+1 = the query subvector · centroid j (0.0 for dead cids — never
    * indexed, codes only take surviving values). */
  private def pqLuts(books: Seq[Codebook], subDim: Int): Seq[Column] =
    books.zipWithIndex.map { case ((cids, matrix), mi) =>
      val byCid = cids.zip(matrix).toMap
      val qSub = slice(col("__qv"), mi * subDim + 1, subDim)
      array((0 to cids.max).map { j =>
        byCid.get(j) match {
          case Some(c) =>
            aggregate(zip_with(qSub, lit(c.toArray), (x, cc) => x * cc),
              lit(0.0), (a, b) => a + b)
          case None => lit(0.0)
        }
      }: _*).as(s"__l$mi")
    }

  /** Each code's lookup-table entry, on rows with codes and LUTs. */
  private def adcTerms(m: Int): Seq[Column] =
    (0 until m).map(mi => element_at(col(s"__l$mi"), col(s"__c$mi") + 1))

  /** Product-quantized top-k by asymmetric distance computation (ADC) —
    * Jégou et al. 2011, the memory-bound production ANN shape: each
    * corpus vector compresses to `m` small codes (here m bytes-worth —
    * a 16× reduction over float32 at m=4/dim=64), and query scoring
    * reads ONLY the codes: per query a lookup table of `m × k`
    * query-to-centroid dot products is computed once (tiny, rides the
    * broadcast), and a corpus row's approximate cosine is the sum of
    * `m` array lookups — no per-row full-dimension arithmetic, so the
    * scan is bounded by code bytes, not vector bytes. Deterministic end
    * to end: the codebooks are the [[pqFit]] fixed-order machinery,
    * lookup entries are ascending-index dot folds, the m-term sum is
    * left-associated, and ranking ties break on id — so an external
    * engine replays codebooks, codes, LUTs, scores, and ranks exactly
    * (`p_ann_pq`'s full DuckDB hash-match). Recall vs the exact scan is
    * pinned in PipelineSpec. Output: (qidCol, idCol, adc, rank). */
  def pqTopKDet(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      topK: Int,
      m: Int,
      subDim: Int,
      k: Int,
      rounds: Int,
      blockSize: Int = 1024): DataFrame = {
    require(topK > 0, "topK must be positive")
    val v = corpus.select(col(idCol), normalizedD(col(vecCol)).as("__v")).persist()
    val books = pqFit("pqTopKDet", v, idCol, m, subDim, k, rounds, blockSize)
    val codes = v.select(col(idCol) +: pqCodes(books, subDim): _*)
    val qlut = queries.select(col(qidCol), normalizedD(col(qvecCol)).as("__qv"))
      .select(col(qidCol) +: pqLuts(books, subDim): _*)
    val scored = codes.crossJoin(broadcast(qlut))
      .select(col(qidCol), col(idCol), adcTerms(m).reduce(_ + _).as("cosine"))
    twoPhaseTopK(scored, qidCol, idCol, topK).withColumnRenamed("cosine", "adc")
  }

  /** PQ + exact rerank — the full production compressed-domain shape
    * (Jégou et al. 2011 §IV): the [[pqTopKDet]] ADC scan keeps
    * `candidates` per query reading only codes, then the float corpus is
    * touched ONLY for the candidate slice, scored exactly and reranked.
    * Deterministic end to end (both stages tie-break on id), so the
    * oracle replays codebooks → codes → LUT → candidate cut → exact
    * rerank rank-for-rank. Output: (qidCol, idCol, cosine, rank). */
  def pqRerankTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      k: Int,
      candidates: Int,
      m: Int,
      subDim: Int,
      kCent: Int,
      rounds: Int,
      blockSize: Int = 1024): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val coarse = pqTopKDet(corpus, idCol, vecCol, queries, qidCol, qvecCol,
      candidates, m, subDim, kCent, rounds, blockSize)
    exactRerank(coarse, corpus, idCol, vecCol, queries, qidCol, qvecCol, k)
  }

  /** The exact stage of a two-stage search: the `coarse` candidates
    * (`qidCol`, `idCol`, …) rescored by exact cosine over the float
    * corpus — read only for the candidate slice — and ranked, cosine
    * desc, id asc. Output: (qidCol, idCol, cosine, rank), rank ≤ `k`. */
  private def exactRerank(coarse: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val cand = coarse.select(col(qidCol), col(idCol))
      .join(corpus.select(col(idCol), normalize(col(vecCol)).as("__cv")), Seq(idCol))
    val q = queries.select(col(qidCol), normalize(col(qvecCol)).as("__qv"))
    val scored = cand.join(broadcast(q), Seq(qidCol))
      .select(col(qidCol), col(idCol), dot(col("__qv"), col("__cv")).as("cosine"))
    val w = Window.partitionBy(qidCol).orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF-PQ — the composed production index (Jégou et al. 2011 §V /
    * the FAISS IVFPQ shape): a spherical coarse quantizer ([[kmeansFit]])
    * partitions the corpus into cells, product quantization compresses
    * each vector's RESIDUAL against its cell centroid (shared codebooks
    * trained on the residual relation — residuals concentrate near zero,
    * which is exactly why PQ-on-residuals beats PQ-on-vectors at equal
    * bits), and a query scans only its `nProbe` best cells, scoring
    * `query·x ≈ query·centroid(cell) + Σ_m LUT_m[code_m]` — the cell
    * term comes free from probe selection and the residual term is `m`
    * array reads per row. At 100 TB this is THE memory-bound ANN
    * layout: the corpus shards by cell (the shuffle key is the dense
    * int cid), a probe touches `nProbe/nCells` of the data, and each
    * touched row costs code bytes, not vector bytes.
    *
    * Deterministic end to end — coarse build (lowest-id seeding,
    * ordered-fold Lloyd), residual subtraction (exact double
    * arithmetic), per-subspace residual codebooks ([[pqFit]], no
    * renormalization), probe choice, LUTs, the left-associated score
    * sum, and id tie-breaks — so an external engine replays the ENTIRE
    * index build and search from the same literals (`p_ann_ivfpq`'s
    * full DuckDB hash-match, scores included).
    * Output: (qidCol, idCol, adc, rank). */
  def ivfPqTopKDet(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      qidCol: String,
      qvecCol: String,
      topK: Int,
      nCells: Int,
      coarseRounds: Int,
      nProbe: Int,
      m: Int,
      subDim: Int,
      kCent: Int,
      pqRounds: Int,
      blockSize: Int = 1024): DataFrame = {
    require(topK > 0 && nProbe > 0, "topK and nProbe must be positive")
    val (cells, centDf) =
      ivfCells("ivfPqTopKDet", corpus, idCol, vecCol, nCells, coarseRounds, blockSize)
    // residuals against the assigned centroid — cached: consumed by every
    // codebook round plus once for code assignment
    val resid = cells.join(broadcast(centDf), Seq("__cell"))
      .select(col(idCol), col("__cell"),
        zip_with(col("__v"), col("__cv"), (x, c) => x - c).as("__v")).persist()
    val books = pqFit("ivfPqTopKDet", resid.select(col(idCol), col("__v")),
      idCol, m, subDim, kCent, pqRounds, blockSize)
    // per-row storage: cell + m residual codes (the compressed corpus)
    val codes = resid.select(col(idCol) +: col("__cell") +: pqCodes(books, subDim): _*)
    val qn = queries.select(col(qidCol), normalizedD(col(qvecCol)).as("__qv"))
    // probe choice: top nProbe cells by query·centroid; the dot rides
    // along as the cell term of the score
    val probeW = Window.partitionBy(qidCol).orderBy(col("__qd").desc, col("__cell"))
    val probes = qn.crossJoin(broadcast(centDf))
      .withColumn("__qd", dot(col("__qv"), col("__cv")))
      .withColumn("__pr", row_number().over(probeW))
      .where(col("__pr") <= nProbe)
      .select(col(qidCol), col("__cell"), col("__qd"))
    val qlut = qn.select(col(qidCol) +: pqLuts(books, subDim): _*)
    // score = ((qd + l0) + l1) + … — left-associated, the oracle's + chain
    val scored = probes.join(codes, Seq("__cell"))
      .join(broadcast(qlut), Seq(qidCol))
      .select(col(qidCol), col(idCol), (col("__qd") +: adcTerms(m)).reduce(_ + _).as("cosine"))
    twoPhaseTopK(scored, qidCol, idCol, topK).withColumnRenamed("cosine", "adc")
  }

  /** Two-stage retrieval: a quantized coarse scan keeps `candidates`
    * per query (1/4 the scan bytes), then an EXACT float rerank over the
    * candidate set only — the classic SQ/PQ + rerank production shape.
    * The rerank join touches `candidates × queries` rows, so the full
    * float corpus is read once for the coarse codes and only the
    * candidate slice is ever scored exactly. Deterministic end to end
    * (both stages tie-break on id), so an oracle replaying both stages
    * ranks identically. Output: (queryIdCol, idCol, cosine, rank). */
  def quantizedRerankTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int,
      candidates: Int): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val coarse = quantizedTopK(corpus, idCol, vecCol,
      queries, queryIdCol, queryVecCol, candidates)
    exactRerank(coarse, corpus, idCol, vecCol, queries, queryIdCol, queryVecCol, k)
  }

  /** Brute-force cosine top-k over int8-quantized vectors — the memory-
    * bound scale path: the scan touches 1/4 the bytes of the float
    * corpus at a small, measurable recall cost (pinned in-suite vs the
    * exact scan). Same two-phase shape as [[bruteForceTopK]]: broadcast
    * queries, per-partition bounded heaps, tiny final ranking window.
    * Scoring runs on the DEQUANTIZED doubles with the deterministic
    * [[cosine]] fold, so an oracle replaying quantize→dequantize→cosine
    * ranks identically. Output: (queryIdCol, idCol, cosine, rank). */
  def quantizedTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol),
      dequantizeInt8(quantizeInt8(col(vecCol))).as("__cv"))
    val q = queries.select(col(queryIdCol),
      dequantizeInt8(quantizeInt8(col(queryVecCol))).as("__qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col(queryIdCol), col(idCol),
        cosine(col("__qv"), col("__cv")).as("cosine"))
    twoPhaseTopK(scored, queryIdCol, idCol, k)
  }
}

/** Σ aᵢ·bᵢ over two numeric arrays (int/long/float/double elements, each
  * side independently typed) as one codegen'd loop: elements widen to
  * double, products accumulate left-to-right in a double — matching the
  * `aggregate(zip_with(...))` Column form it replaces, including its
  * null semantics (length mismatch or a null element → null result,
  * because `zip_with` null-pads the shorter side and `acc + null` is
  * null), without the per-element interpreted lambda dispatch and
  * zipped-array allocation.
  */
case class DotExpr(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def kindOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.dataType match {
      case ArrayType(FloatType, _) => 0
      case ArrayType(DoubleType, _) => 1
      case ArrayType(IntegerType, _) => 2
      case ArrayType(LongType, _) => 3
      case _ => -1
    }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (kindOf(left) >= 0 && kindOf(right) >= 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects numeric array arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    DotExpr.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], kindOf(left),
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], kindOf(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val result = ctx.freshName("dotResult")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double $result =
         |  graft.functions.DotExpr.dot($a, ${kindOf(left)}, $b, ${kindOf(right)});
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
       """.stripMargin)
  }
  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

object DotExpr {
  private def elem(a: org.apache.spark.sql.catalyst.util.ArrayData, i: Int, kind: Int): Double =
    kind match {
      case 0 => a.getFloat(i).toDouble
      case 1 => a.getDouble(i)
      case 2 => a.getInt(i).toDouble
      case _ => a.getLong(i).toDouble
    }

  /** Boxed so a null result can signal length-mismatch / null elements
    * (the zip_with-form semantics); called from codegen. */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData, aKind: Int,
      b: org.apache.spark.sql.catalyst.util.ArrayData, bKind: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elem(a, i, aKind) * elem(b, i, bKind)
      i += 1
    }
    acc
  }
}

/** L2-normalize a float array in one codegen'd pass: norm accumulates
  * left-to-right in a double (same fold as [[DotExpr]] on itself), each
  * element is `(float)(x / norm)`; zero vectors pass through unchanged;
  * an array containing null elements normalizes to null (a malformed
  * embedding should drop out of similarity filters, not produce garbage).
  */
case class NormalizeExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_normalize expects array<float>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    NormalizeExpr.normalize(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val result = ctx.freshName("normResult")
    nullSafeCodeGen(ctx, ev, c =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData $result =
         |  graft.functions.NormalizeExpr.normalize($c);
         |if ($result == null) { ${ev.isNull} = true; } else { ${ev.value} = $result; }
       """.stripMargin)
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
  override def prettyName: String = "vec_normalize"
}

object NormalizeExpr {
  /** Null on null elements (see class doc); called from codegen. */
  def normalize(a: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = a.getFloat(i).toDouble
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    if (norm == 0.0) return a
    val out = new Array[Float](n)
    i = 0
    while (i < n) {
      out(i) = (a.getFloat(i) / norm).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** All `tables` hyperplane-LSH signatures of a float embedding in one
  * codegen'd pass: for table t, bit i is the sign of the dot product with
  * deterministic pseudo-random plane t·bits+i. Replaces tables×bits
  * higher-order `aggregate(zip_with(...))` dot expressions (one zipped
  * array allocation each) with a single fused loop; plane components are
  * precomputed once and shipped via the codegen reference mechanism.
  * Arithmetic matches the Column form bit-for-bit: float elements widen
  * to double, products accumulate left-to-right in a double.
  */
case class HyperplaneSigsExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
    dim: Int, bits: Int, tables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val planes: Array[Double] =
    HyperplaneSigsExpr.planes(dim, bits * tables)

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      HyperplaneSigsExpr.sigs(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        planes, dim, bits, tables))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.HyperplaneSigsExpr.sigs($c, $planesRef, $dim, $bits, $tables));
       """.stripMargin)
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
  override def prettyName: String = "hyperplane_sigs"
}

object HyperplaneSigsExpr {
  /** Component j of plane i — the same splitmix64 scramble as the Column
    * form (Similarity.hyperplane), flattened to planes[i*dim + j]. */
  def planes(dim: Int, nPlanes: Int): Array[Double] = {
    val out = new Array[Double](nPlanes * dim)
    var i = 0
    while (i < nPlanes) {
      var j = 0
      while (j < dim) {
        var z = (i.toLong << 32) + j + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        out(i * dim + j) = z.toDouble / Long.MaxValue.toDouble
        j += 1
      }
      i += 1
    }
    out
  }

  /** Signature longs per table (called from codegen). */
  def sigs(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      planes: Array[Double], dim: Int, bits: Int, tables: Int): Array[Long] = {
    val n = math.min(dim, vec.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var b = 0
      while (b < bits) {
        val base = (t * bits + b) * dim
        var acc = 0.0
        var j = 0
        while (j < n) {
          acc += vec.getFloat(j).toDouble * planes(base + j)
          j += 1
        }
        if (acc >= 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    out
  }
}

/** Argmax-dot centroid index of a DOUBLE vector against a driver-resident
  * double matrix — the k-means assignment kernel. One fused loop per row
  * (matrix ships via the codegen reference mechanism); each per-centroid
  * dot is the same left-to-right double fold as [[DotExpr]], and the
  * strict `>` comparison keeps the EARLIEST maximal row, so with rows
  * ordered by ascending cid the tie rule is "lowest cid". Null on a
  * dimension mismatch (the DotExpr contract). */
case class NearestCentroidDoubleExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    centroids: Seq[Seq[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

  require(centroids.nonEmpty, "nearest_centroid_d needs at least one centroid")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroid_d expects array<double>, got ${other.simpleString}")
    }

  private val dim: Int = centroids.head.length
  @transient private lazy val matrix: Array[Double] = {
    val out = new Array[Double](centroids.length * dim)
    var i = 0
    centroids.foreach { c =>
      require(c.length == dim, "ragged centroid matrix")
      c.foreach { x => out(i) = x; i += 1 }
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    NearestCentroidDoubleExpr.best(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], matrix, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matrixRef = ctx.addReferenceObj("centroidMatrixD", matrix, "double[]")
    val result = ctx.freshName("bestCid")
    nullSafeCodeGen(ctx, ev, c =>
      s"""java.lang.Integer $result =
         |  graft.functions.NearestCentroidDoubleExpr.best($c, $matrixRef, $dim);
         |if ($result == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $result.intValue(); }
       """.stripMargin)
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroid_d"
}

object NearestCentroidDoubleExpr {
  /** Boxed so a dimension mismatch / null element can signal null;
    * called from codegen. */
  def best(a: org.apache.spark.sql.catalyst.util.ArrayData,
      m: Array[Double], dim: Int): java.lang.Integer = {
    if (a.numElements() != dim) return null
    val k = m.length / dim
    var bestIdx = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < k) {
      var acc = 0.0
      var i = 0
      val off = c * dim
      while (i < dim) {
        if (a.isNullAt(i)) return null
        acc += a.getDouble(i) * m(off + i)
        i += 1
      }
      if (acc > bestDot) { bestDot = acc; bestIdx = c }
      c += 1
    }
    bestIdx
  }
}

/** Indices of the `topN` best-scoring rows of a centroid matrix against a
  * float vector, as one codegen'd loop: score = Σ vᵢ·cᵢ (floats widened to
  * double, left-to-right accumulation — the [[DotExpr]] fold), order =
  * score desc then index desc (the `greatest(struct(score, cid))` /
  * `sort_array(desc)` order of the per-centroid expression tree this
  * replaces). The matrix ships once via the codegen reference mechanism
  * (`ctx.addReferenceObj`) instead of as nCentroids expression-tree
  * literals — a per-centroid `greatest` tree blows the JVM method /
  * constant-pool limits and falls back to interpreted O(nCentroids)
  * dispatch per row once cells number in the thousands (√N at corpus
  * scale). Null vector → null; null elements read as 0 (callers feed
  * [[NormalizeExpr]] output, which nulls whole malformed vectors).
  */
case class NearestCentroidsExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    centroids: Seq[Seq[Float]],
    topN: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

  require(centroids.nonEmpty, "nearest_centroids needs at least one centroid")
  require(topN >= 1, "topN must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids expects array<float>, got ${other.simpleString}")
    }

  private val dim: Int = centroids.head.length
  @transient private lazy val matrix: Array[Float] = {
    val out = new Array[Float](centroids.length * dim)
    var i = 0
    centroids.foreach { c =>
      require(c.length == dim, "ragged centroid matrix")
      c.foreach { x => out(i) = x; i += 1 }
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      NearestCentroidsExpr.topCids(
        input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
        matrix, dim, topN))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matrixRef = ctx.addReferenceObj("centroidMatrix", matrix, "float[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.NearestCentroidsExpr.topCids($c, $matrixRef, $dim, $topN));
       """.stripMargin)
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression) =
    copy(child = newChild)
  override def prettyName: String = "nearest_centroids"
}

object NearestCentroidsExpr {
  /** Top-N centroid indices by (score desc, index desc); called from
    * codegen. One pass over the matrix, insertion into a topN-sized
    * sorted buffer (topN = nProbe, single digits in practice). */
  def topCids(vec: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Float], dim: Int, topN: Int): Array[Int] = {
    val nCent = cents.length / dim
    val n = math.min(dim, vec.numElements())
    val k = math.min(topN, nCent)
    val bestS = new Array[Double](k)
    val bestC = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < nCent) {
      val base = c * dim
      var acc = 0.0
      var j = 0
      while (j < n) {
        if (!vec.isNullAt(j)) acc += vec.getFloat(j).toDouble * cents(base + j)
        j += 1
      }
      // insert (acc, c) if it beats the current worst kept entry
      if (filled < k || acc > bestS(filled - 1) ||
        (acc == bestS(filled - 1) && c > bestC(filled - 1))) {
        var pos = if (filled < k) filled else k - 1
        while (pos > 0 && (acc > bestS(pos - 1) ||
          (acc == bestS(pos - 1) && c > bestC(pos - 1)))) {
          bestS(pos) = bestS(pos - 1); bestC(pos) = bestC(pos - 1); pos -= 1
        }
        bestS(pos) = acc; bestC(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    if (filled == k) bestC else java.util.Arrays.copyOf(bestC, filled)
  }
}

/** Element-wise sum of `array<float>` vectors as a typed partial aggregate
  * (buffer = `double[dim]`): map-side combine makes the Lloyd-refinement
  * shuffle O(partitions × nCentroids × dim) instead of the N × dim rows a
  * `posexplode` + per-position aggregation plan re-keys. Null or
  * wrong-length inputs are skipped (a malformed embedding should not
  * poison its cell's centroid). Accumulation is double, merge order
  * follows Spark's partial-merge order — centroid arithmetic, not
  * bit-exactness, is the contract here (IVF is approximate by nature).
  */
case class VecSumAgg(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[Double]] {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

  override def children: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq(child)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vec_sum expects array<float>, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Double] = new Array[Double](dim)

  override def update(buffer: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == dim) {
        var i = 0
        while (i < dim) {
          if (!arr.isNullAt(i)) buffer(i) += arr.getFloat(i).toDouble
          i += 1
        }
      }
    }
    buffer
  }

  override def merge(buffer: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < dim) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Double]): Any = new GenericArrayData(buffer)

  override def serialize(buffer: Array[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(dim * 8)
    var i = 0
    while (i < dim) { bb.putDouble(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[org.apache.spark.sql.catalyst.expressions.Expression]) =
    copy(child = newChildren.head)
  override def prettyName: String = "vec_sum"
}
