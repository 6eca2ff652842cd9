package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** FastText-style linear quality classifier (Joulin et al. 2017; the
  * CCNet / LLaMA "looks like reference text" corpus filter): a linear
  * model over hashed bag-of-words features, trained on a SMALL labeled
  * seed and applied to the whole corpus. Differences from the published
  * recipe, chosen for engine portability and bit-exactness:
  *
  *   - the learner is an integer PERCEPTRON (fixed epochs, fixed row
  *     order) instead of softmax SGD — every weight is an exact integer,
  *     so scores are identical in any engine, and the determinism is by
  *     construction rather than by seeding;
  *   - the feature hash is the first 4 hex chars of md5(token) (65536
  *     buckets) — the same portable-hash idiom as
  *     [[Sampling.hashSplit]], so ANY downstream consumer (the DuckDB
  *     oracle included) can recompute features from the tokens alone.
  *
  * The labeled seed lives with the model, NOT in the corpus: quality
  * classifiers are trained on a bounded human-curated sample (CCNet uses
  * Wikipedia as the positive class) and applied to arbitrarily large
  * corpora. That boundedness is what makes the model driver-resident by
  * construction — the same argument as the bigram LM
  * ([[LanguageModel]]) and the k-means centroid matrix.
  *
  * Scale shape of scoring: weights broadcast (bounded by seed
  * vocabulary); the corpus is scanned once, tokens explode and join the
  * broadcast map WITHOUT a shuffle, and the only exchange is the
  * map-side-combined (doc_id, partial-sum) aggregation — two bigints
  * per doc. Nothing vocabulary- or token-scale ever shuffles.
  *
  * reference: astro has no classifier surface; this follows the
  * published CCNet filtering recipe (Wenzek et al. 2020 §4.4).
  */
object Classifier {

  /** Tokenization shared by training (driver) and scoring (engine):
    * lowercase, trim, split on whitespace runs. Must stay in lockstep
    * with the `split(lower(trim(text)), "\\s+")` scoring expression and
    * the DuckDB `string_split_regex(lower(trim(text)), '\s+')` replay. */
  private[graft] def tokenize(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  /** First 4 hex chars of md5(token) — the portable 65536-bucket feature
    * hash, byte-identical to Spark `substring(md5(t), 1, 4)` and DuckDB
    * `substr(md5(t), 1, 4)`. */
  private[graft] def bucket(token: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    f"${d(0) & 0xff}%02x${d(1) & 0xff}%02x"
  }

  /** Integer perceptron over hashed-unigram counts: predict positive iff
    * `w·x + b > 0`; on a miss, `w += y·x`, `b += y`. Fixed `epochs`
    * passes in the seed's given order — fully deterministic, all
    * arithmetic exact. Returns (non-zero weights by bucket, bias). */
  private[graft] def trainPerceptron(
      seed: Seq[(String, Int)], epochs: Int): (Map[String, Long], Long) = {
    require(seed.nonEmpty && seed.forall(p => p._2 == 1 || p._2 == -1),
      "seed labels must be ±1")
    val feats = seed.map { case (t, y) =>
      (tokenize(t).groupBy(bucket).view.mapValues(_.size.toLong).toMap, y.toLong)
    }
    var w = Map.empty[String, Long].withDefaultValue(0L)
    var b = 0L
    for (_ <- 1 to epochs; (x, y) <- feats) {
      val s = x.iterator.map { case (k, c) => w(k) * c }.sum + b
      val pred = if (s > 0) 1L else -1L
      if (pred != y) {
        x.foreach { case (k, c) => w = w.updated(k, w(k) + y * c) }
        b += y
      }
    }
    (w.filter(_._2 != 0L), b)
  }

  /** The labeled quality seed: positives are reference-style prose,
    * negatives are the boilerplate/listing/SEO shapes crawl filters
    * target. Bounded and versioned with the code — the classifier's
    * contract is "train on curated labels, score any corpus". */
  private[graft] val QualitySeed: Seq[(String, Int)] = Seq(
    ("The committee published its findings after a two year review of the evidence.", 1),
    ("Researchers at the university demonstrated that the compound binds to the receptor.", 1),
    ("The novel follows three generations of a family through the upheavals of the century.", 1),
    ("In the decades after the war the city rebuilt its harbor and reopened trade routes.", 1),
    ("The theorem states that every continuous function on a closed interval attains a maximum.", 1),
    ("Her memoir describes the drought years on the farm with unsentimental precision.", 1),
    ("The treaty established a commission to arbitrate border disputes between the parties.", 1),
    ("Early experiments with the vaccine showed a strong immune response in adults.", 1),
    ("The orchestra premiered the symphony to an audience of two thousand people.", 1),
    ("Archaeologists uncovered a granary beneath the temple complex last spring.", 1),
    ("The court held that the statute applies only to contracts signed after the amendment.", 1),
    ("Glaciers in the region have retreated measurably over the past fifty years.", 1),
    ("The biography traces his apprenticeship in the workshop of a provincial printer.", 1),
    ("A majority of the delegates voted to adopt the revised charter on the second ballot.", 1),
    ("The study controlled for income and education across all participating households.", 1),
    ("The bridge was completed in 1931 and carried rail traffic for six decades.", 1),
    ("Their analysis suggests the comet fragmented during its previous perihelion passage.", 1),
    ("The museum restored the fresco using pigments matched to the original palette.", 1),
    ("Wheat yields improved after the cooperative introduced crop rotation schedules.", 1),
    ("The senate debated the measure for a week before returning it to committee.", 1),
    ("click here to unlock your exclusive bonus now limited time offer", -1),
    ("home about contact privacy terms sitemap login register subscribe", -1),
    ("buy cheap watches free shipping best price guarantee order now", -1),
    ("page 1 2 3 4 5 6 7 8 9 next last", -1),
    ("copyright all rights reserved powered by", -1),
    ("sign up today and get 50 off your first purchase act fast", -1),
    ("related posts you may also like sponsored content around the web", -1),
    ("error 404 not found the page you requested does not exist", -1),
    ("top 10 best amazing unbelievable tricks doctors hate this one weird tip", -1),
    ("add to cart checkout wishlist compare quick view sale new hot", -1),
    ("cookie consent we use cookies accept decline manage preferences", -1),
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do", -1),
    ("follow us on facebook twitter instagram youtube newsletter signup", -1),
    ("download now free trial no credit card required cancel anytime", -1),
    ("breaking shocking viral celebrity scandal you wont believe what happened", -1),
    ("faq shipping returns track order gift cards store locator", -1),
    ("tags cloud popular recent comments archives categories meta feed", -1),
    ("win a free iphone enter your email to claim your prize", -1),
    ("advertisement continue reading below advertisement scroll to continue", -1),
    ("username password remember me forgot password create account", -1))

  /** The trained quality model: (bucket → weight, bias). Computed once at
    * class load — pure integer arithmetic over the fixed seed, so the
    * same weights fall out on every JVM. */
  lazy val QualityModel: (Map[String, Long], Long) = trainPerceptron(QualitySeed, 3)

  /** Score `textCol` of every row with [[QualityModel]]:
    * (idCol, score, keep) where `score = w·x + b` (exact integer) and
    * `keep = score > 0`. See the object doc for the scale shape. */
  def scoreQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    val (w, b) = QualityModel
    import spark.implicits._
    val wdf = w.toSeq.sortBy(_._1).toDF("__b", "__w")
    val toks = df
      .select(col(idCol), explode(WsTokens.split(lower(trim(col(textCol))))).as("__t"))
      .where(col("__t") =!= "")
    val scored = toks
      .select(col(idCol), substring(md5(col("__t")), 1, 4).as("__b"))
      .join(broadcast(wdf), Seq("__b"))
      .groupBy(idCol).agg(sum(col("__w")).as("__s"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), (coalesce(col("__s"), lit(0L)) + lit(b)).as("score"))
      .withColumn("keep", col("score") > 0)
  }

  /** The model as a SQL VALUES relation (`(bucket, weight)` sorted by
    * bucket) — lets the oracle replay scoring from the same literals. */
  private[graft] def weightsSqlValues: String =
    QualityModel._1.toSeq.sortBy(_._1)
      .map { case (k, v) => s"('$k', $v)" }.mkString(", ")

  /** [[QualityModel]] as a dense 65536-slot weight array (bucket hex →
    * index) + bias, for the fused scorer. */
  private[graft] lazy val qualityWeightArray: (Array[Long], Long) = {
    val (w, b) = QualityModel
    val arr = new Array[Long](65536)
    w.foreach { case (hex, wt) => arr(Integer.parseInt(hex, 16)) = wt }
    (arr, b)
  }

  /** Zero-shuffle scoring: the whole model rides inside one codegen'd
    * expression ([[PerceptronScoreExpr]], the [[BigramLmStatsExpr]]
    * pattern) — no explode, no join, no aggregation, so the projection is
    * embarrassingly parallel AND stateless-streaming-safe (the join-based
    * [[scoreQuality]] would need streaming aggregation state). Scores are
    * bit-identical to [[scoreQuality]] on ALL inputs, null text included:
    * the relational path's explode-then-left-join yields `score = bias`
    * for a null/empty document, so the fused path coalesces null text to
    * "" (zero tokens → the walk returns bias) rather than letting the
    * UnaryExpression null-propagate. */
  def scoreQualityFused(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val (arr, b) = qualityWeightArray
    df.select(col(idCol),
        ColumnBridge.column(PerceptronScoreExpr(
          ColumnBridge.expression(lower(coalesce(col(textCol), lit("")))), arr, b)).as("score"))
      .withColumn("keep", col("score") > 0)
  }
}

/** One-pass perceptron scoring over whitespace tokens of the input:
  * `bias + Σ weights[md5₁₆(token)]`, the input lowercased by Spark's
  * `lower()` before it arrives. The token walk is the [[WsTokens]]
  * kernel; the feature hash is the first two md5 bytes (the same 4-hex
  * bucket the relational scorer and the DuckDB oracle use, compared as
  * an int index into the dense array). */
case class PerceptronScoreExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    weights: Array[Long],
    bias: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.types.{DataType, LongType}
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    PerceptronScoreExpr.score(input.asInstanceOf[UTF8String], weights, bias)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("w", weights, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.PerceptronScoreExpr.score($c, $ref, ${bias}L);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "perceptron_score"
}

object PerceptronScoreExpr {
  import org.apache.spark.unsafe.types.UTF8String

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The whitespace walk matches `split(..., "\\s+")` + the non-empty
    * filter of the relational scorer; `s` is already lowercased by Spark
    * `lower()`, as the relational scorer's tokens are (a per-token
    * `UTF8String.toLowerCase` is the JDK's mapping, which leaves capitals
    * encoded after Unicode 13 upper where `lower()`'s ICU mapping does
    * not). */
  def score(s: UTF8String, w: Array[Long], bias: Long): Long = {
    val bytes = s.getBytes
    val md = digest.get()
    var sum = bias
    WsTokens.foreachToken(bytes, 0, bytes.length) { (st, e) =>
      md.reset()
      md.update(bytes, st, e - st)
      val d = md.digest()
      sum += w(((d(0) & 0xff) << 8) | (d(1) & 0xff))
    }
    sum
  }
}
