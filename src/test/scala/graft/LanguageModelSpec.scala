package graft

import graft.functions.{LanguageModel, TextAnalysis}
import graft.functions.LanguageModel.BigramLm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.TestListenerBus
import org.apache.spark.sql.util.QueryExecutionListener

class LanguageModelSpec extends GraftSuite {
  import spark.implicits._

  /** The relational LM build `buildBigramLm` replaced: vocab collect, a
    * separate token-total sum, and the pair explode joined against the
    * vocab relation on both sides. Kept as the parity reference. */
  private def referenceLm(df: DataFrame, textCol: String, vocabSize: Int,
      maxBigrams: Int): BigramLm = {
    val vocabDf = TextAnalysis.topTokens(df, textCol, vocabSize)
    val vocab = vocabDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = df
      .select(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n"))
      .head().getAs[Any]("n") match {
      case null => 0L
      case n: Long => n
    }
    val bigrams = referencePairCounts(df, textCol, vocabDf)
      .orderBy(col("n").desc, col("w1"), col("w2")).limit(maxBigrams)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    BigramLm(vocab, bigrams, total, vocabSize)
  }

  private def referencePairCounts(df: DataFrame, textCol: String, vocabDf: DataFrame) = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairRows = df.select(toks.as("__t")).where(size(col("__t")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("__t")) - 2), i =>
        struct(element_at(col("__t"), i + 1).as("w1"),
          element_at(col("__t"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val vset = vocabDf.select("token")
    pairRows
      .join(broadcast(vset.withColumnRenamed("token", "w1")), Seq("w1"))
      .join(broadcast(vset.withColumnRenamed("token", "w2")), Seq("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
  }

  // Spark's trim strips spaces only, so the leading \n and trailing \t
  // leave empty split tokens; null, empty and blank texts; uppercase and
  // non-ASCII tokens that lowercase into the vocab
  private val corpus = Seq[(Long, String)](
    (1L, "\nThe cat sat\t"),
    (2L, "the Cat ran  \t"),
    (3L, "the dog sat"),
    (4L, ""),
    (5L, null),
    (6L, "   "),
    (7L, "Über émile the cat"),
    (8L, "über Émile dog ran\n"),
    (9L, "dog the cat\r\nsat"),
    (10L, "solo solo"),
    (11L, "\tÜBER\u000bdog\fthe"),
    (12L, "cat sat émile über"),
    (13L, "ran dog the cat sat ran"),
    (14L, "Solo")).toDF("doc_id", "text")

  private def countAt(counts: Seq[Long], i: Int): Long = counts.sorted.reverse(i)

  test("buildBigramLm equals the relational reference at 1 and 4 partitions, ties at both cut-offs") {
    // (vocabSize, maxBigrams): (5, 5) cuts between ran and über (both 4)
    // and inside six count-1 pairs; (7, 6) cuts between solo and émile
    // (both 3) and inside eight count-1 pairs, one of them non-ASCII
    for ((vocabSize, maxBigrams) <- Seq((5, 5), (7, 6))) {
      val allTokens = TextAnalysis.topTokens(corpus, "text", 1000).as[(String, Long)]
        .collect().map(_._2).toSeq
      assert(countAt(allTokens, vocabSize - 1) == countAt(allTokens, vocabSize),
        s"no count tie at the vocab cut-off $vocabSize")
      val allPairs = referencePairCounts(corpus, "text",
        TextAnalysis.topTokens(corpus, "text", vocabSize)).as[(String, String, Long)]
        .collect().map(_._3).toSeq
      assert(countAt(allPairs, maxBigrams - 1) == countAt(allPairs, maxBigrams),
        s"no count tie at the bigram cut-off $maxBigrams")
      for (parts <- Seq(1, 4)) {
        val df = corpus.repartition(parts)
        val expected = referenceLm(df, "text", vocabSize, maxBigrams)
        val got = LanguageModel.buildBigramLm(df, "text", vocabSize, maxBigrams)
        assert(got.vocab == expected.vocab, s"vocab, $parts partition(s), V=$vocabSize")
        assert(got.bigrams == expected.bigrams, s"bigrams, $parts partition(s), V=$vocabSize")
        assert(got.totalTokens == expected.totalTokens, s"total, $parts partition(s)")
      }
    }
  }

  test("buildBigramLm on an empty corpus: empty vocab and bigrams, total 0") {
    for (parts <- Seq(1, 4)) {
      val empty = corpus.where(lit(false)).repartition(parts)
      val lm = LanguageModel.buildBigramLm(empty, "text", vocabSize = 5, maxBigrams = 5)
      assert(lm == BigramLm(Map.empty, Map.empty, 0L, 5))
      assert(lm == referenceLm(empty, "text", 5, 5))
    }
  }

  test("buildBigramLm on texts without a token keeps the split-token total") {
    // tokenCount counts the empty split tokens of "\n" and "\t\t", so the
    // total is non-zero while the vocab is empty (no null text here: its
    // count is null or -1 depending on spark.sql.ansi.enabled)
    val blank = Seq((1L, "\n"), (2L, "\t\t"), (3L, ""))
      .toDF("doc_id", "text").repartition(2)
    val lm = LanguageModel.buildBigramLm(blank, "text", vocabSize = 5, maxBigrams = 5)
    assert(lm == referenceLm(blank, "text", 5, 5))
    assert(lm.vocab.isEmpty && lm.bigrams.isEmpty && lm.totalTokens == 4L)
  }

  test("buildBigramLm runs two actions; the bigram query never re-plans the vocab") {
    // a column name no other suite uses, to pick this build's queries out
    val text = "lm_guard_text"
    val df = corpus.withColumnRenamed("text", text).repartition(4)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        if (qe.analyzed.treeString.contains(text)) seen.add(qe)
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(qe)
    }
    TestListenerBus.drain(spark)
    spark.listenerManager.register(listener)
    try {
      LanguageModel.buildBigramLm(df, text, vocabSize = 5, maxBigrams = 5)
      TestListenerBus.drain(spark)
    } finally spark.listenerManager.unregister(listener)
    val qes = seen.toArray(Array.empty[QueryExecution]).toSeq
    assert(qes.size == 2, s"expected 2 actions, saw ${qes.size}")
    val bigramQe = qes(1)
    val aggs = bigramQe.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.size == 1, s"one (w1, w2) aggregate expected:\n${bigramQe.optimizedPlan}")
    assert(aggs.head.groupingExpressions.map(_.references.head.name) == Seq("w1", "w2"))
    assert(bigramQe.optimizedPlan.collect { case j: Join => j }.isEmpty)
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(bigramQe.executedPlan) { case b: BroadcastExchangeExec => b }.isEmpty,
      s"broadcast in the bigram plan:\n${bigramQe.executedPlan}")
  }
}
