package graft

import graft.functions.{NearestCentroidDoubleExpr, Similarity}
import graft.functions.Similarity.Codebook
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, TestListenerBus}
import org.apache.spark.sql.util.QueryExecutionListener

/** The grouped Lloyd fit behind k-means and every PQ codebook: parity
  * with the loops it replaced, its action count, and its empty-corpus
  * failure. */
class LloydFitSpec extends GraftSuite {
  import spark.implicits._

  /** Argmin-L2 code of `sub`, ties to the lowest cid. */
  private def argminL2(sub: Column, cids: Array[Int], matrix: Seq[Seq[Double]]): Column =
    array_min(array(cids.toSeq.zip(matrix).map { case (cid, c) =>
      struct(
        aggregate(zip_with(sub, lit(c.toArray), (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, b) => a + b).as("d"),
        lit(cid).as("i"))
    }: _*)).getField("i")

  /** The per-subspace PQ loop the grouped fit replaced: a seed collect
    * and `rounds − 1` pooled collects for each subspace in turn. Kept as
    * the parity reference. */
  private def referencePq(v: DataFrame, m: Int, subDim: Int, k: Int, rounds: Int,
      blockSize: Int): Seq[Codebook] =
    (0 until m).map { mi =>
      val sub = v.select(col("vec_id"), slice(col("__v"), mi * subDim + 1, subDim).as("__s"))
      var matrix: Seq[Seq[Double]] =
        sub.orderBy(col("vec_id")).limit(k).collect().map(_.getSeq[Double](1)).toSeq
      var cids: Array[Int] = matrix.indices.toArray
      var r = 1
      while (r < rounds) {
        val assigned = sub.select(col("vec_id"), col("__s"),
          argminL2(col("__s"), cids, matrix).as("__cid"))
        val next = Similarity.meanPoolExact(assigned, "__cid", "vec_id", "__s", blockSize)
          .select(col("__cid"), col("centroid"))
          .collect().map(row => row.getInt(0) -> row.getSeq[Double](1))
          .sortBy(_._1)
        cids = next.map(_._1)
        matrix = next.map(_._2).toSeq
        r += 1
      }
      (cids, matrix)
    }

  /** The spherical k-means loop the grouped fit replaced. Kept as the
    * parity reference. */
  private def referenceKmeans(df: DataFrame, k: Int, rounds: Int, blockSize: Int): Codebook = {
    val v = df.select(col("vec_id"),
      transform(Similarity.normalize(col("embedding")), x => x.cast("double")).as("__v"))
    def renorm(c: Column): Column = transform(c, x => x / sqrt(Similarity.dot(c, c)))
    var matrix: Seq[Seq[Double]] =
      v.orderBy(col("vec_id")).limit(k).collect().map(_.getSeq[Double](1)).toSeq
    var cids: Array[Int] = matrix.indices.toArray
    var r = 1
    while (r < rounds) {
      val cid = element_at(lit(cids), ColumnBridge.column(
        NearestCentroidDoubleExpr(ColumnBridge.expression(col("__v")), matrix)) + 1)
      val assigned = v.select(col("vec_id"), col("__v"), cid.as("__cid"))
      val next = Similarity.meanPoolExact(assigned, "__cid", "vec_id", "__v", blockSize)
        .select(col("__cid"), renorm(col("centroid")).as("__cv"))
        .collect().map(row => row.getInt(0) -> row.getSeq[Double](1))
        .sortBy(_._1)
      cids = next.map(_._1)
      matrix = next.map(_._2).toSeq
      r += 1
    }
    (cids, matrix)
  }

  /** A codebook as cids and raw double bits: equal iff every double is. */
  private def bits(b: Codebook): (Seq[Int], Seq[Seq[Long]]) =
    (b._1.toSeq, b._2.map(_.map(java.lang.Double.doubleToRawLongBits)))

  private val dim = 4

  /** Rows 0 and 1 share their first subvector, so subspace 0's cid 1
    * never wins a row (ties go to cid 0) and dies in round 1, while the
    * second subspace keeps all three seeds. */
  private val pqRows: Seq[(Long, Array[Double])] =
    Seq(0L -> Array(1.0, 0.0, 5.0, 5.0), 1L -> Array(1.0, 0.0, -5.0, 5.0),
      2L -> Array(0.0, 1.0, 0.0, -5.0)) ++
      (3L until 60L).map(i => i -> Array(math.sin(i.toDouble), math.cos(1.3 * i),
        4 * math.sin(0.7 * i), 4 * math.cos(2.1 * i)))

  /** Rows 0 and 1 point the same way, so k-means cid 1 dies in round 1. */
  private val kmRows: Seq[(Long, Array[Float])] =
    Seq(0L -> Array(1.0f, 0.0f, 0.0f), 1L -> Array(2.0f, 0.0f, 0.0f),
      2L -> Array(0.0f, 1.0f, 0.0f)) ++
      (3L until 60L).map(i => i -> Array(math.sin(i.toDouble).toFloat,
        math.cos(1.3 * i).toFloat, math.sin(0.4 * i).toFloat))

  test("grouped fit equals the per-subspace and k-means loops at 1 and 7 partitions, " +
    "dead clusters included") {
    Seq(1, 7).foreach { parts =>
      val v = pqRows.toDF("vec_id", "__v").repartition(parts)
      val books = Similarity.pqFit("pqTopKDet", v, "vec_id", m = 2, subDim = dim / 2, k = 3,
        rounds = 3, blockSize = 16)
      val ref = referencePq(v, m = 2, subDim = dim / 2, k = 3, rounds = 3, blockSize = 16)
      assert(books.map(bits) == ref.map(bits), s"PQ at $parts partitions")
      // the corpus does what it claims: each subspace drops its own dead cids
      assert(books.map(_._1.toSeq) == Seq(Seq(0, 2), Seq(0, 1, 2)), s"PQ at $parts partitions")

      val df = kmRows.toDF("vec_id", "embedding").repartition(parts)
      val (_, cids, matrix) =
        Similarity.kmeansFit("kmeansAssign", df, "vec_id", "embedding", 3, 3, 16)
      assert(bits((cids, matrix)) == bits(referenceKmeans(df, 3, 3, 16)),
        s"k-means at $parts partitions")
      assert(!cids.contains(1), s"k-means at $parts partitions: ${cids.toSeq}")
    }
  }

  /** The actions `body` runs over a relation with an `idCol` column. */
  private def actions(idCol: String)(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.treeString.contains(idCol)) seen.incrementAndGet()
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    }
    TestListenerBus.drain(spark)
    spark.listenerManager.register(listener)
    try { body; TestListenerBus.drain(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.get
  }

  test("the PQ fit runs one action per round for all subspaces; k-means one per round") {
    // a column name no other suite uses, to pick this fit's queries out
    val id = "lloyd_guard_id"
    val v = (0L until 40L).map(i => i -> Array.tabulate(16)(j => math.sin(7.0 * i + j)))
      .toDF(id, "__v").repartition(4).persist()
    // m × rounds = 8 before the subspaces were fitted together
    assert(actions(id)(Similarity.pqFit("pqTopKDet", v, id, m = 4, subDim = 4, k = 3,
      rounds = 2, blockSize = 16)) == 2)
    val df = (0L until 40L).map(i => i -> Array.tabulate(8)(j => math.cos(3.0 * i + j).toFloat))
      .toDF(id, "embedding").repartition(4)
    assert(actions(id)(Similarity.kmeansFit("kmeansAssign", df, id, "embedding", 3, 3, 16)) == 3)
    v.unpersist()
  }

  test("an empty corpus fails the fit, naming the calling operator") {
    val e = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val q = Seq(1L -> Array.fill(8)(1.0f)).toDF("qid", "qv")
    def failure(run: => Any): String = intercept[IllegalArgumentException](run).getMessage
    // Before the guard, both PQ operators failed in analysis, with
    // [INVALID_EXTRACT_BASE_FIELD_TYPE] Can't extract a value from
    // "array_min(array())" — an AnalysisException naming neither the
    // operator nor the empty corpus.
    Seq(1, 2).foreach { rounds =>
      assert(failure(Similarity.pqTopKDet(e, "vec_id", "embedding", q, "qid", "qv",
        topK = 3, m = 2, subDim = 4, k = 3, rounds = rounds))
        .contains("pqTopKDet: empty corpus"))
    }
    // the rerank's ADC stage is the pqTopKDet scan
    assert(failure(Similarity.pqRerankTopK(e, "vec_id", "embedding", q, "qid", "qv",
      k = 3, candidates = 5, m = 2, subDim = 4, kCent = 3, rounds = 2))
      .contains("pqTopKDet: empty corpus"))
    assert(failure(Similarity.kmeansAssign(e, "vec_id", "embedding", k = 3, rounds = 2))
      .contains("kmeansAssign: empty corpus"))
    assert(failure(Similarity.ivfTopKDet(e, "vec_id", "embedding", q, "qid", "qv",
      topK = 3, nCentroids = 2, rounds = 2, nProbe = 1))
      .contains("ivfTopKDet: empty corpus"))
    assert(failure(Similarity.ivfPqTopKDet(e, "vec_id", "embedding", q, "qid", "qv",
      topK = 3, nCells = 2, coarseRounds = 2, nProbe = 1, m = 2, subDim = 4, kCent = 3,
      pqRounds = 2)).contains("ivfPqTopKDet: empty corpus"))
  }
}
