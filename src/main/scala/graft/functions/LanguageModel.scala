package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** CCNet-style language-model quality scoring: build a bigram LM over a
  * reference corpus, score every document by add-k-smoothed bigram
  * perplexity, and filter/bucket on the score (the classic
  * head/middle/tail split of web-crawl curation). No external model — the
  * LM is counted from the corpus the caller designates as "reference".
  *
  * Scale design: the LM build is two all-partition passes. The first
  * counts the top-V vocab (map-side-combined token count + TakeOrdered)
  * and, observed on the same scan, the corpus token total. The second
  * walks each document's tokens once against the collected vocab
  * ([[BigramPairsExpr]]), emits only in-vocab adjacent pairs, and counts
  * them into the top-B bigrams (one bounded aggregation + TakeOrdered).
  * The corpus is never shuffled on raw text or joined against the vocab
  * relation, and the collected model is bounded by vocabSize +
  * maxBigrams, NOT the corpus (driver-resident by construction, like IVF
  * centroids). Scoring is a narrow codegen'd projection: one walk per
  * document returns all three integer signals ([[BigramLmStatsExpr]]),
  * one more sums the perplexity numerator ([[BigramLmNllExpr]]), with the
  * model shipped once per executor inside the expression reference —
  * scoring 100 TB is embarrassingly parallel. All three expressions walk
  * tokens with the [[WsTokens]] kernel, over the document lowercased
  * once by Spark's `lower()` (the normalization the vocab was counted
  * under; a per-token `UTF8String.toLowerCase` is the JDK's mapping,
  * which differs from `lower()`'s ICU mapping on capitals encoded after
  * Unicode 13).
  */
object LanguageModel {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** A counted bigram LM: top-V unigrams (token → count), top-B in-vocab
    * bigram counts, and the corpus token total. Selection ties break
    * lexicographically, so any engine rebuilds the identical model. */
  final case class BigramLm(
      vocab: Map[String, Long],
      bigrams: Map[(String, String), Long],
      totalTokens: Long,
      vocabSize: Int) {
    private[graft] lazy val runtime: BigramLmRuntime = {
      val uni = new java.util.HashMap[UTF8String, java.lang.Long](vocab.size * 2)
      vocab.foreach { case (w, c) => uni.put(UTF8String.fromString(w), c) }
      val bi = new java.util.HashMap[UTF8String, java.lang.Long](bigrams.size * 2)
      bigrams.foreach { case ((a, b), c) =>
        bi.put(BigramLmRuntime.pairKey(UTF8String.fromString(a), UTF8String.fromString(b)), c)
      }
      new BigramLmRuntime(uni, bi, totalTokens, vocab.size)
    }
  }

  /** Count the LM from `df[textCol]`: whitespace tokens of the lowercased
    * text, top-`vocabSize` unigrams (count desc, token asc), then counts
    * of the ≤ `maxBigrams` most frequent adjacent pairs whose BOTH tokens
    * are in-vocab. Two actions: the vocab collect, which also yields the
    * token total through an [[Observation]] on its scan, then one
    * narrow pair walk against the collected vocab ([[BigramPairsExpr]]) +
    * one (w1, w2) aggregation + TakeOrdered. */
  def buildBigramLm(
      df: DataFrame,
      textCol: String,
      vocabSize: Int,
      maxBigrams: Int): BigramLm = {
    require(vocabSize > 0 && maxBigrams > 0, "vocabSize and maxBigrams must be positive")
    val totalCol = sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n")
    val totalObs = Observation()
    val vocab = TextAnalysis.topTokens(df.observe(totalObs, totalCol), textCol, vocabSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the observed sum is missing only when AQE dropped the observed scan
    // stage from the final plan, which it does when that stage emitted no
    // token (empty vocab); count the total in a third action then
    val total = totalObs.get.getOrElse("n", df.select(totalCol).head().get(0)) match {
      case null => 0L
      case n: Long => n
    }
    val vset = new java.util.HashSet[UTF8String](vocab.size * 2)
    vocab.keys.foreach(w => vset.add(UTF8String.fromString(w)))
    // lower(trim(...)): the exact normalization topTokens counted the
    // vocab over, so every in-vocab token of the walk is a vocab key
    val pairs = ColumnBridge.column(
      BigramPairsExpr(ColumnBridge.expression(lower(trim(col(textCol)))), vset))
    val bigrams = df.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(maxBigrams)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    BigramLm(vocab, bigrams, total, vocabSize)
  }

  /** Integer scoring signals (engine-portable: any engine rebuilding the
    * same LM reproduces them exactly): OOV token count, adjacent pairs
    * with both tokens in-vocab, and pairs present in the bigram table —
    * three fields of one walk. */
  def lmSignals(c: Column, lm: BigramLm): Seq[(String, Column)] =
    signals(stats(lowered(c), lm))

  /** Add-k-smoothed bigram perplexity: exp(Σ −ln P / n_bigrams) with
    * P(w₂|w₁) = (c₁₂+k)/(c₁+k·V) when both tokens are in-vocab, else the
    * unigram backoff (c₂+k)/(N+k·V). Lower = more reference-like; docs
    * with fewer than 2 tokens score null. */
  def lmPerplexity(c: Column, lm: BigramLm, addK: Double = 0.1): Column =
    perplexity(c, nll(lowered(c), lm, addK))

  /** Score a corpus: id + the integer signals + perplexity. The text is
    * lowercased once, then walked once for the signals and once for the
    * perplexity numerator. */
  def scoreDocs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      lm: BigramLm,
      addK: Double = 0.1): DataFrame = {
    val walked = df
      .select(col(idCol), col(textCol), lowered(col(textCol)).as("__lc"))
      .select(col(idCol), col(textCol), stats(col("__lc"), lm).as("__lm"),
        nll(col("__lc"), lm, addK).as("__nll"))
    walked.select(
      Seq(col(idCol)) ++ signals(col("__lm")).map { case (n, e) => e.as(n) } ++ Seq(
        nBigrams(col(textCol)).cast("long").as("n_bigrams"),
        perplexity(col(textCol), col("__nll")).as("lm_ppl")): _*)
  }

  /** The normalization the vocab was counted under ([[TextAnalysis.topTokens]]). */
  private def lowered(c: Column): Column = lower(trim(c))

  private def stats(lc: Column, lm: BigramLm): Column =
    ColumnBridge.column(BigramLmStatsExpr(ColumnBridge.expression(lc), lm))

  private def signals(stats: Column): Seq[(String, Column)] =
    BigramLmStatsExpr.Type.fieldNames.toSeq.map(n => n -> stats.getField(n).cast("long"))

  private def nll(lc: Column, lm: BigramLm, addK: Double): Column =
    ColumnBridge.column(BigramLmNllExpr(ColumnBridge.expression(lc), lm, addK))

  private def nBigrams(c: Column): Column = greatest(TextAnalysis.tokenCount(c) - 1, lit(0))

  private def perplexity(c: Column, nll: Column): Column =
    when(nBigrams(c) === 0, lit(null).cast("double")).otherwise(exp(nll / nBigrams(c)))
}

/** Shared executor-side model state for the LM expressions: unigram and
  * bigram count maps (bigram key = w1 ++ NUL ++ w2, see [[BigramLmRuntime.pairKey]]),
  * token total, vocab size. Shipped once per task via the codegen
  * reference array. */
final class BigramLmRuntime(
    val uni: java.util.HashMap[UTF8String, java.lang.Long],
    val bi: java.util.HashMap[UTF8String, java.lang.Long],
    val total: Long,
    val vocabSize: Int) extends Serializable

object BigramLmRuntime {
  private val Sep = UTF8String.fromString("\u0000")

  /** Bigram-table key of the pair (w1, w2). */
  def pairKey(w1: UTF8String, w2: UTF8String): UTF8String =
    UTF8String.concat(w1, Sep, w2)
}

/** The in-vocab adjacent token pairs of the (pre-normalized) input, in
  * order, as `array<struct<w1, w2>>` — the pair relation of the LM build,
  * gated against the driver-collected vocab in the same codegen'd pass
  * that tokenizes (no join against the vocab relation). Tokens are taken
  * as they are: the caller feeds the text normalized exactly as the vocab
  * was counted. */
case class BigramPairsExpr(child: Expression, vocab: java.util.HashSet[UTF8String])
    extends UnaryExpression {
  override def dataType: DataType = BigramPairsExpr.Type
  override def nullSafeEval(input: Any): Any =
    BigramPairsExpr.pairs(input.asInstanceOf[UTF8String].getBytes, vocab)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vocab", vocab, classOf[java.util.HashSet[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramPairsExpr.pairs($c.getBytes(), $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  // the vocab can be large; plans print its size only
  override def stringArgs: Iterator[Any] = Iterator(child, s"vocab=${vocab.size}")
  override def prettyName: String = "bigram_pairs"
}

object BigramPairsExpr {
  val Type: ArrayType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = false))), containsNull = false)

  def pairs(bytes: Array[Byte], vocab: java.util.HashSet[UTF8String]): ArrayData = {
    val out = new java.util.ArrayList[InternalRow]()
    var prev: UTF8String = null
    WsTokens.foreachToken(bytes, 0, bytes.length) { (s, e) =>
      val t = UTF8String.fromBytes(bytes, s, e - s)
      val cur = if (vocab.contains(t)) t else null
      if (prev != null && cur != null) out.add(InternalRow(prev, cur))
      prev = cur
    }
    new GenericArrayData(out.toArray)
  }
}

/** The three integer LM scoring signals of the (lowercased) input as
  * one struct (oov_tokens, invocab_bigrams, hit_bigrams), one codegen'd
  * walk over its [[WsTokens]] tokens. */
case class BigramLmStatsExpr(child: Expression, lm: LanguageModel.BigramLm)
    extends UnaryExpression {
  override def dataType: DataType = BigramLmStatsExpr.Type
  override def nullSafeEval(input: Any): Any =
    BigramLmStatsExpr.stats(input.asInstanceOf[UTF8String].getBytes, lm.runtime)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lm", lm.runtime, classOf[BigramLmRuntime].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramLmStatsExpr.stats($c.getBytes(), $ref);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bigram_lm_stats"
}

object BigramLmStatsExpr {
  val Type: StructType = StructType(Seq("oov_tokens", "invocab_bigrams", "hit_bigrams")
    .map(StructField(_, IntegerType, nullable = false)))

  /** Called from codegen. */
  def stats(bytes: Array[Byte], lm: BigramLmRuntime): InternalRow = {
    var oov = 0
    var invocab = 0
    var hits = 0
    var prev: UTF8String = null
    var prevIn = false
    WsTokens.foreachToken(bytes, 0, bytes.length) { (s, e) =>
      val t = UTF8String.fromBytes(bytes, s, e - s)
      val inV = lm.uni.containsKey(t)
      if (!inV) oov += 1
      else if (prevIn) {
        invocab += 1
        if (lm.bi.containsKey(BigramLmRuntime.pairKey(prev, t))) hits += 1
      }
      prev = t
      prevIn = inV
    }
    InternalRow(oov, invocab, hits)
  }
}

/** Σ −ln P over the (lowercased) document's adjacent token pairs under
  * the add-k bigram LM with unigram backoff — the numerator of the CCNet
  * perplexity. One codegen'd pass over the [[WsTokens]] tokens. */
case class BigramLmNllExpr(child: Expression, lm: LanguageModel.BigramLm, addK: Double)
    extends UnaryExpression {
  require(addK > 0, "addK must be positive (zero-count pairs need mass)")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    BigramLmNllExpr.nll(input.asInstanceOf[UTF8String].getBytes, lm.runtime, addK)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lm", lm.runtime, classOf[BigramLmRuntime].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramLmNllExpr.nll($c.getBytes(), $ref, $addK);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bigram_lm_nll"
}

object BigramLmNllExpr {
  def nll(bytes: Array[Byte], lm: BigramLmRuntime, k: Double): Double = {
    val v = lm.vocabSize
    var sum = 0.0
    var prev: UTF8String = null
    var c1: java.lang.Long = null // prev's unigram count
    WsTokens.foreachToken(bytes, 0, bytes.length) { (s, e) =>
      val t = UTF8String.fromBytes(bytes, s, e - s)
      val c2 = lm.uni.get(t)
      if (prev != null) {
        val p =
          if (c1 != null && c2 != null) {
            val c12 = lm.bi.get(BigramLmRuntime.pairKey(prev, t))
            val n12 = if (c12 == null) 0.0 else c12.doubleValue
            (n12 + k) / (c1.doubleValue + k * v)
          } else {
            val n2 = if (c2 == null) 0.0 else c2.doubleValue
            (n2 + k) / (lm.total + k * v)
          }
        sum -= math.log(p)
      }
      prev = t
      c1 = c2
    }
    sum
  }
}
