package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL registration for graft's function surface, so `spark.sql` users get
  * the same operators as the Scala API:
  *
  * {{{
  *   GraftFunctions.registerAll(spark)
  *   spark.sql("SELECT graft_fingerprint64(text), graft_token_count(text) FROM docs")
  * }}}
  *
  * `graft_fingerprint64` binds the custom Catalyst expression directly (no
  * UDF wrapper — stays inside whole-stage codegen); the rest register the
  * same Column expressions used by the Scala API.
  */
object GraftFunctions {

  def registerAll(spark: SparkSession): Unit = {
    // native expression: direct FunctionRegistry entry
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_fingerprint64",
      exprs => Fingerprint64(exprs.head),
      "built-in")

    // column-composition functions: registered through the public API by
    // converting Column=>Column into expression builders via the bridge
    def register1(name: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Unit =
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name,
        exprs => ColumnBridge.expressionEager(f(ColumnBridge.column(exprs.head))),
        "built-in")

    register1("graft_simhash64", Dedup.simHash64) // native SimHash64Expr inside
    register1("graft_token_count", TextAnalysis.tokenCount)
    register1("graft_subword_count", TextAnalysis.subwordCount)
    register1("graft_lang_id", TextAnalysis.langId)
    register1("graft_clean_text", TextAnalysis.cleanText)
    register1("graft_mask_pii", TextAnalysis.maskPii)
    register1("graft_scrub_pii", TextAnalysis.scrubPiiText)
    register1("graft_canonical_url", TextAnalysis.canonicalizeUrl)
    register1("graft_payload_dhash", Multimodal.imagePayloadDHash)
    register1("graft_repetition_ratio3", TextAnalysis.repetitionRatio(_, 3))
    register1("graft_strip_html", TextAnalysis.stripHtml)
    register1("graft_quality_pass", TextAnalysis.qualityPass(_))
    register1("graft_dedup_lines", TextAnalysis.dedupLinesInDoc)
    register1("graft_nfc_normalize", TextAnalysis.normalizeNfc)
    register1("graft_c4_filter_lines", c =>
      org.apache.spark.sql.functions.array_join(TextAnalysis.c4LineFilter(c), "\n"))
    register1("graft_extract_urls", TextAnalysis.extractUrls)
    register1("graft_url_domain", TextAnalysis.urlDomain)
    register1("graft_l2norm", Similarity.l2Norm)
    register1("graft_normalize", Similarity.normalize) // native NormalizeExpr
    register1("graft_quantize_int8", Similarity.quantizeInt8)
    register1("graft_dequantize_int8", Similarity.dequantizeInt8)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine",
      exprs => ColumnBridge.expressionEager(
        Similarity.cosine(ColumnBridge.column(exprs(0)), ColumnBridge.column(exprs(1)))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      exprs => DotExpr(exprs(0), exprs(1)),
      "built-in")
    // shingle/minhash primitives, so corpus pipelines compose in pure SQL
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_word_shingles3",
      exprs => ColumnBridge.expressionEager {
        val c = ColumnBridge.column(exprs.head)
        import org.apache.spark.sql.functions.{lower, regexp_replace, trim}
        ColumnBridge.column(ShingleSetExpr(
          ColumnBridge.expression(WsTokens.collapse(lower(trim(c)))),
          3, byWord = true))
      },
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_minhash_sig64",
      exprs => MinHashSigExpr(exprs.head, 64),
      "built-in")
    // the fused quality classifier (model inside the expression) —
    // corpus filtering composes in pure SQL:
    //   SELECT * FROM docs WHERE graft_quality_score(text) > 0
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_quality_score",
      exprs => {
        val (arr, b) = Classifier.qualityWeightArray
        PerceptronScoreExpr(
          org.apache.spark.sql.catalyst.expressions.Lower(exprs.head), arr, b)
      },
      "built-in")

    // sketch AGGREGATES, so bounded-state distinct counting composes in
    // pure SQL:
    //   SELECT source,
    //     graft_hll_estimate(graft_hll(graft_kmv_hash(gm), 8), 8)
    //   FROM grams GROUP BY source
    // The size parameter must be an integer literal (it shapes the
    // aggregation buffer, so it cannot be data-dependent).
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
        what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    register1("graft_kmv_hash", Sketch.kmvHash)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kmv",
      exprs => KmvAgg(exprs.head, intLit(exprs(1), "kmv k")).toAggregateExpression(),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_kmv_estimate",
      exprs => ColumnBridge.expressionEager(
        Sketch.kmvEstimate(ColumnBridge.column(exprs.head),
          intLit(exprs(1), "kmv k"))),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hll",
      exprs => HllAgg(exprs.head, intLit(exprs(1), "hll p")).toAggregateExpression(),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_hll_estimate",
      exprs => ColumnBridge.expressionEager(
        Sketch.hllEstimate(ColumnBridge.column(exprs.head),
          intLit(exprs(1), "hll p"))),
      "built-in")
  }
}
