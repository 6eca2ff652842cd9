package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Text-analysis operators for training-data pipelines (builder-prompt
  * north star; no reference equivalent — the reference's only text path is
  * pandas transforms). Everything here is pure `Column` composition over
  * Spark built-ins (whole-stage-codegen friendly, no UDFs) plus custom
  * codegen'd Catalyst expressions. Whitespace tokenization — every
  * `split(…, "\\s+")`, token count and whitespace collapse, and the token
  * walk of the fused byte loops below — goes through the one
  * [[WsTokens]] kernel, bit-identical to Spark's regex forms.
  */
object TextAnalysis {

  /** Whitespace token count ([[WsTokens.count]]); empty/blank → 0,
    * null → null. */
  def tokenCount(c: Column): Column =
    WsTokens.count(c)

  /** A BPE-ish subword count: word tokens plus an extra unit per 4 chars of
    * long words (crude but deterministic proxy for tokenizer load). One
    * codegen'd pass ([[TokenFoldExpr]]) — `Σ max(1, ceil(len/4))` over
    * whitespace tokens, token length in codepoints, matching the
    * interpreted `aggregate(split(...))` form bit-for-bit. */
  def subwordCount(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(TokenFoldExpr(ColumnBridge.expression(trim(c))))
  }

  /** Tokens of `c` (split(trim, "\\s+") semantics) whose lowercase form
    * is in `words` — one codegen'd pass ([[StopwordHitsExpr]]) over
    * `lower(trim(c))` instead of an interpreted
    * `filter(toks, t => array_contains(...))` that walks the word list
    * per token. */
  def stopwordHits(c: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(StopwordHitsExpr(ColumnBridge.expression(lower(trim(c))), words))
  }

  /** Quality metrics in one projection: char/token counts, mean token
    * length, ratios of punctuation / digits / uppercase / whitespace,
    * stopword ratio (en). Output column names are stable API. */
  def qualityMetrics(c: Column): Seq[(String, Column)] = {
    val nChars = length(c)
    val toks = WsTokens.split(trim(c))
    val nToks = tokenCount(c)
    def classRatio(pattern: String): Column =
      when(nChars === 0, lit(0.0))
        .otherwise((nChars - length(regexp_replace(c, pattern, ""))).cast("double") / nChars)
    val stopHits = stopwordHits(c, EnStopwords)
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nToks.cast("long"),
      "mean_token_len" -> when(nToks === 0, lit(0.0))
        .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nToks),
      "punct_ratio" -> classRatio("[\\p{Punct}]"),
      "digit_ratio" -> classRatio("[0-9]"),
      "upper_ratio" -> classRatio("[A-Z]"),
      "space_ratio" -> classRatio("[\\s]"),
      "stopword_ratio" -> when(nToks === 0, lit(0.0)).otherwise(stopHits.cast("double") / nToks))
  }

  /** Language ID by stopword-profile scoring: the language whose stopword
    * list hits the most tokens wins; `und` when nothing hits. N-gram-free
    * heuristic good enough for coarse routing; scores are exposed for
    * thresholding. */
  def langId(c: Column): Column = {
    val scored = LangProfiles.map { case (lang, words) =>
      struct(stopwordHits(c, words).as("hits"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") <= 0, lit("und")).otherwise(best.getField("lang"))
  }

  /** 64-bit content fingerprint of whitespace-normalized lowercase text —
    * a custom codegen'd Catalyst expression (see [[Fingerprint64]]). */
  def fingerprint64(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val normalized = WsTokens.collapse(lower(trim(c)))
    ColumnBridge.column(Fingerprint64(ColumnBridge.expression(normalized)))
  }

  /** Text normalization for training corpora: strip control characters,
    * collapse runs of whitespace, trim. */
  def cleanText(c: Column): Column =
    trim(WsTokens.collapse(regexp_replace(c, "[\\p{Cntrl}]", " ")))

  /** Unicode NFC normalization — canonical composition (e + U+0301 →
    * é), the standard pre-tokenization canonicalization so visually
    * identical strings dedup/fingerprint identically. Codegen'd wrapper
    * over `java.text.Normalizer` ([[NfcNormalizeExpr]]); narrow, no
    * shuffle. */
  def normalizeNfc(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NfcNormalizeExpr(ColumnBridge.expression(c)))
  }

  /** ftfy-style mojibake repair for the single most common corruption in
    * web crawls: UTF-8 bytes misdecoded as Latin-1 ("café" crawled as
    * "cafÃ©"). Re-encodes the string as ISO-8859-1 and strictly
    * re-decodes as UTF-8; the repair is kept only when (a) every char is
    * Latin-1-representable, (b) the bytes form VALID UTF-8 (strict —
    * malformed input returns the original, never a replacement char),
    * and (c) the result is strictly shorter (true of any real mojibake:
    * ≥2 chars collapse into 1; ASCII round-trips identical and is
    * skipped by a fast path). The standard ftfy heuristic — text that
    * legitimately spells "Ã©" is repaired too, exactly as ftfy does.
    * Codegen'd narrow projection ([[MojibakeFixExpr]]); no shuffle. */
  def fixMojibake(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(MojibakeFixExpr(ColumnBridge.expression(c)))
  }

  /** HTML/markup removal for web-crawl corpora: comments and
    * script/style blocks go including their content, remaining tags are
    * stripped, the common entities decode (amp LAST so `&amp;lt;` ends up
    * as the literal `&lt;` text, and decoded angle brackets can never
    * resurrect a tag because tags are already gone), and whitespace
    * collapses. Pure regexp chain — every pattern is RE2-compatible
    * (lazy quantifiers, inline `(?is)` flags, no backreferences), so the
    * DuckDB oracle runs the semantically identical chain. Narrow
    * codegen'd projection (Spark's native RegExpReplace), no shuffle. */
  def stripHtml(c: Column): Column = {
    val noComment = regexp_replace(c, "(?s)<!--.*?-->", " ")
    val noBlocks = regexp_replace(noComment,
      "(?is)<(script|style)[^>]*>.*?</(script|style)\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)</?[a-zA-Z!][^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (ent, repl)) =>
        regexp_replace(acc, ent, repl)
      }
    trim(WsTokens.collapse(decoded))
  }

  /** PII masking: emails, phone-number-ish sequences, and IPv4 addresses
    * replaced with typed placeholder tokens (the standard pre-training
    * scrub; patterns intentionally conservative). */
  def maskPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")
    regexp_replace(ip,
      "(?<!\\d)(?:\\+?\\d{1,3}[ .-]?)?(?:\\(\\d{2,4}\\)[ .-]?)?\\d{3}[ .-]\\d{3,4}[ .-]?\\d{0,4}(?!\\d)", "<PHONE>")
  }

  /** Portable PII patterns — deliberately lookaround-free so Java regex
    * and RE2 engines produce identical matches (leftmost-first with
    * greedy quantifiers coincides on these shapes). Kept alongside
    * [[maskPii]], whose phone pattern uses Java-only lookarounds. */
  final val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val PiiIpRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  final val PiiPhoneRe = "(?:\\+\\d{1,3}[ .-])?\\(?\\d{3}\\)?[ .-]\\d{3}[ .-]\\d{4}\\b"

  /** The scrub chain alone (email → IP → phone), for the SQL surface. */
  def scrubPiiText(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c,
      PiiEmailRe, "<EMAIL>"), PiiIpRe, "<IP>"), PiiPhoneRe, "<PHONE>")

  /** Typed PII redaction with per-category hit counts (the Dolma/FineWeb
    * pre-training scrub): emails, then IPv4 addresses, then phone-shaped
    * sequences are replaced with placeholder tokens, each category
    * counted on the text AFTER the previous category's scrub so counts
    * and redactions describe the same rewrite. Pure narrow projection —
    * zero shuffle, codegen'd regex evaluation, trivially parallel.
    *
    * Returns (id, text, n_email, n_ip, n_phone) with `text` scrubbed.
    * reference: astro has no redaction surface; this follows the
    * published Dolma toolkit recipe (Soldaini et al. 2024, §PII). */
  def scrubPii(
      df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String
  ): org.apache.spark.sql.DataFrame = {
    val afterEmail = regexp_replace(col(textCol), PiiEmailRe, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, PiiIpRe, "<IP>")
    val afterPhone = regexp_replace(afterIp, PiiPhoneRe, "<PHONE>")
    df.select(
      col(idCol),
      afterPhone.as("text"),
      regexp_count(col(textCol), lit(PiiEmailRe)).cast("bigint").as("n_email"),
      regexp_count(afterEmail, lit(PiiIpRe)).cast("bigint").as("n_ip"),
      regexp_count(afterIp, lit(PiiPhoneRe)).cast("bigint").as("n_phone"))
  }

  /** Gopher-style repetition signals: fraction of duplicate word n-grams
    * (1 − distinct/total). High values flag boilerplate/spam. Returns a
    * double in [0, 1]; 0 for texts shorter than n tokens.
    *
    * One codegen'd pass ([[RepetitionRatioExpr]]): grams are XXH64 of the
    * byte range spanning n consecutive tokens of the whitespace-normalized
    * text, deduped in a per-row open-address set — same counts as
    * distinct-gram-strings up to a ~2⁻⁵⁰ per-doc hash-collision
    * probability, with none of the interpreted `zip_with` chain the
    * previous Column form paid. */
  def repetitionRatio(c: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val normalized = WsTokens.collapse(lower(trim(c)))
    ColumnBridge.column(RepetitionRatioExpr(ColumnBridge.expression(normalized), n))
  }

  /** Remove repeated lines WITHIN a document, keeping each line's first
    * occurrence in order (the in-doc boilerplate scrub — repeated nav
    * bars, footers, chat headers). Pure array composition: split on
    * '\n', keep line i iff its first occurrence index is i, re-join.
    * Narrow projection, zero shuffle, trivially parallel at 100 TB. */
  def dedupLinesInDoc(c: Column): Column = {
    val lines = split(c, "\n")
    array_join(
      filter(lines, (l, i) => array_position(lines, l) === i.cast("long") + 1L), "\n")
  }

  /** CROSS-document boilerplate removal (the CCNet-style web scrub —
    * [[dedupLinesInDoc]] handles repeats WITHIN a doc; this removes the
    * nav bars / cookie banners / footers repeated ACROSS a source's
    * documents): a line whose whitespace-normalized lowercase form
    * appears in at least `minDocFrac` of a source's documents is
    * boilerplate FOR THAT SOURCE and is stripped from every one of its
    * documents, surviving lines keeping their order. Documents whose
    * every line is boilerplate come back with empty text — never
    * dropped.
    *
    * Scale shape: frequency counting shuffles (source, line-hash64)
    * longs — line TEXT never shuffles for the count (the
    * [[fingerprint64]] discipline; identical counts up to ~2⁻⁶⁴
    * collisions); per-source doc totals are #sources rows broadcast
    * back; the boilerplate set is a per-source join key relation;
    * reassembly groups by doc, per-task state = one document. Output:
    * (docIdCol, sourceCol, textCol) with textCol stripped. */
  def stripBoilerplate(
      df: org.apache.spark.sql.DataFrame,
      docIdCol: String,
      sourceCol: String,
      textCol: String,
      minDocFrac: Double): org.apache.spark.sql.DataFrame = {
    require(minDocFrac > 0.0 && minDocFrac <= 1.0,
      s"minDocFrac must be in (0, 1], got $minDocFrac")
    val lines = df.select(col(docIdCol), col(sourceCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", fingerprint64(col("__line")))
    val docTotals = df.groupBy(sourceCol)
      .agg(countDistinct(col(docIdCol)).as("__nd"))
    val boiler = lines.select(col(sourceCol), col("__lh"), col(docIdCol))
      .distinct()
      .groupBy(sourceCol, "__lh").agg(count(lit(1)).as("__ndl"))
      .join(broadcast(docTotals), Seq(sourceCol))
      // boilerplate must REPEAT across documents: without the floor of 2,
      // a single-doc source reads 1/1 = 100% for every one of its lines
      // and the whole document vanishes
      .where(col("__ndl") >= greatest(lit(2), col("__nd") * minDocFrac))
      .select(col(sourceCol), col("__lh"))
    val kept = lines.join(boiler, Seq(sourceCol, "__lh"), "left_anti")
      .groupBy(docIdCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")), "\n").as("__kept"))
    df.select(col(docIdCol), col(sourceCol))
      .join(kept, Seq(docIdCol), "left")
      .select(col(docIdCol), col(sourceCol),
        coalesce(col("__kept"), lit("")).as(textCol))
  }

  /** Corpus vocabulary stats: top-k tokens by frequency, ties broken
    * lexicographically. Explode → count is fully map-side combinable
    * (partial aggregation), and the final top-k is a TakeOrdered — no
    * global sort of the vocabulary. */
  def topTokens(df: org.apache.spark.sql.DataFrame, textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(WsTokens.split(lower(trim(col(textCol))))).as("token"))
      .where(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)

  /** Split documents into fixed-size token windows with overlap — the
    * context-window prep step of a training pipeline (a 100-k-token doc
    * becomes ~n/stride training sequences). Chunk i covers tokens
    * [i·stride, i·stride + chunkTokens) of the whitespace tokenization,
    * stride = chunkTokens − overlap; the final chunk is shorter rather
    * than padded, and a doc at or under chunkTokens yields itself as one
    * chunk. Emits (idCol, chunk_id, chunk_text, chunk_tokens).
    *
    * Narrow plan: tokenize once per doc, generate per-chunk slices in a
    * single projection, `posexplode` — no shuffle at all; chunking 100 TB
    * is embarrassingly parallel and this keeps it that way. */
  def chunkByTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int,
      overlap: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunkTokens=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = WsTokens.split(trim(col(textCol)))
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__nc",
        when(size(col("__toks")) <= chunkTokens, lit(1))
          .otherwise(ceil((size(col("__toks")) - lit(overlap)).cast("double") / stride)
            .cast("int")))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__nc") - 1),
          i => slice(col("__toks"), i * stride + 1, lit(chunkTokens)))))
      .select(col(idCol), col("pos").cast("long").as("chunk_id"),
        concat_ws(" ", col("col")).as("chunk_text"),
        size(col("col")).cast("long").as("chunk_tokens"))
  }

  /** Exact corpus top-k tokens through the heavy-hitter scale path. The
    * plain [[topTokens]] groupBy shuffles one row per DISTINCT token —
    * at web scale the vocabulary (billions of mostly-once tokens) IS the
    * shuffle. This variant never shuffles the vocabulary:
    *
    *  1. one narrow pass runs a Misra–Gries summary (capacity `cap`) per
    *     partition — classic guarantee: a token absent from a partition's
    *     summary has partition count ≤ Nₚ/(cap+1), so the UNION of
    *     summaries (≤ partitions·cap rows, tiny) contains every token
    *     with global count > N/(cap+1);
    *  2. an exact recount touches candidates only (broadcast semi-join,
    *     narrow) — shuffle is candidates × partial counts;
    *  3. the result is PROVABLY exact when the k-th exact count clears
    *     the N/(cap+1) bound — no non-candidate can reach it. The bound
    *     is checked from the same pass's per-partition token-count
    *     sentinels, and the operator fails fast with sizing guidance
    *     when it doesn't hold (raise `cap`), never returning silently
    *     approximate ranks.
    *
    * Ties break lexicographically, same contract as [[topTokens]]. */
  def topTokensAtScale(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      k: Int,
      capacity: Int = 0): org.apache.spark.sql.DataFrame = {
    require(k > 0, "k must be positive")
    val cap = if (capacity > 0) capacity else math.max(256, 16 * k)
    val spark = df.sparkSession
    import spark.implicits._
    def toks = df.select(explode(WsTokens.split(lower(trim(col(textCol))))).as("token"))
      .where(length(col("token")) > 0)
    // pass 1: per-partition Misra-Gries + a token-count sentinel row
    val partial = toks.as[String].mapPartitions { it =>
      val (summary, n) = misraGries(it, cap)
      summary.iterator.map(t => (t, 0L, false)) ++ Iterator.single((null: String, n, true))
    }.toDF("token", "cnt", "sentinel").persist()
    val total = partial.where(col("sentinel")).agg(sum("cnt")).as[Long].head()
    val cands = partial.where(!col("sentinel")).select("token").distinct()
    // pass 2: exact recount of candidates only
    val topk = toks.join(broadcast(cands), Seq("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
      .collect()
    partial.unpersist()
    if (total > 0) {
      if (topk.length >= k) {
        val kth = topk.last.getLong(1)
        require(kth * (cap + 1L) > total,
          s"top-$k not provable at capacity $cap: k-th count $kth does not clear " +
            s"the N/(cap+1) = ${total / (cap + 1L)} heavy-hitter bound — raise capacity")
      } else {
        // fewer candidates than k: only exact if NO token can have been
        // dropped anywhere, i.e. the bound N/(cap+1) admits no count >= 1
        require(total < cap + 1L,
          s"only ${topk.length} candidates for top-$k at capacity $cap — raise capacity")
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(topk.toIndexedSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Misra–Gries summary of one partition's tokens with `cap` counters:
    * at most `cap` tokens, among them every token seen more than
    * n/(cap+1) times, where n (returned beside them) is the number of
    * tokens read. */
  private[graft] def misraGries(tokens: Iterator[String], cap: Int): (Seq[String], Long) = {
    // java.lang.Long values: a missing key must read as null, not 0L
    val counters = new java.util.HashMap[String, java.lang.Long](cap * 2)
    var n = 0L
    tokens.foreach { t =>
      n += 1
      val c = counters.get(t)
      if (c != null) counters.put(t, c + 1L)
      else if (counters.size < cap) counters.put(t, 1L)
      else {
        // decrement-all; drop zeros (amortized O(1): every decrement
        // cancels exactly one earlier increment)
        val iter = counters.entrySet().iterator()
        while (iter.hasNext) {
          val e = iter.next()
          if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1L)
        }
      }
    }
    val out = Seq.newBuilder[String]
    counters.forEach((t, _) => out += t)
    (out.result(), n)
  }

  /** Corpus-adaptive quality score: per-doc fraction of tokens inside
    * the corpus's own top-`vocabSize` vocabulary (common-token coverage —
    * low values flag gibberish, code dumps, and wrong-language spills
    * without any external model). Two stages: the vocabulary build is the
    * [[topTokens]] plan (explode → map-side-combinable count → TakeOrdered;
    * the only shuffle), its top-K collects to the driver (bounded by
    * `vocabSize`, not the corpus) and ships inside the fused
    * [[StopwordHitsExpr]], so scoring is a narrow codegen'd projection.
    * Emits (idCol, vocab_hits, n_tokens, coverage). */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val vocab = topTokens(df, textCol, vocabSize)
      .select("token").collect().map(_.getString(0)).toSeq
    df.select(col(idCol),
        stopwordHits(col(textCol), vocab).cast("long").as("vocab_hits"),
        tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("coverage",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(col("vocab_hits").cast("double") / col("n_tokens")))
  }

  /** Distinct stopwords of `words` present among the whitespace tokens of
    * `c` (lowercased) — the Gopher-style "must contain ≥2 of a small stop
    * list" gate, one codegen'd pass ([[DistinctStopwordHitsExpr]]). */
  def distinctStopwordHits(c: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(DistinctStopwordHitsExpr(ColumnBridge.expression(lower(trim(c))), words))
  }

  private def lineStat(c: Column, which: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(LineStatsExpr(ColumnBridge.expression(c), which))
  }

  /** Gopher-style document quality gates (public thresholds after the
    * Gopher/MassiveWeb and C4 filter families; every knob configurable).
    * All signals are engine-portable: integer counts or single divisions
    * of exact integers, so the DuckDB oracle reproduces them bit-exactly.
    */
  final case class QualityRules(
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minMeanTokenLen: Double = 3.0,
      maxMeanTokenLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      maxBulletLineRatio: Double = 0.9,
      maxEllipsisLineRatio: Double = 0.3,
      minDistinctStopwords: Int = 2,
      maxDupLineRatio: Double = 0.3,
      maxDupNgramRatio: Double = 0.5,
      ngramSize: Int = 3,
      stopwords: Seq[String] = LangProfiles.head._2)

  /** The quality signals behind [[qualityGate]], name → Column. Narrow
    * projection: the line statistics and stopword probes are codegen'd
    * byte loops ([[LineStatsExpr]], [[DistinctStopwordHitsExpr]]); the
    * rest is Spark built-ins. Nothing here shuffles — filtering 100 TB
    * by quality is embarrassingly parallel and stays that way. */
  def qualitySignals(c: Column, rules: QualityRules): Seq[(String, Column)] = {
    val ntok = tokenCount(c)
    val toks = WsTokens.split(trim(c))
    val meanLen = when(ntok === 0, lit(0.0))
      .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") / ntok)
    // symbol load: '#' chars + non-overlapping "..." runs + '…' chars
    val symbolHits = (length(c) - length(translate(c, "#", ""))) +
      size(regexp_extract_all(c, lit("\\.\\.\\."), lit(0))) +
      (length(c) - length(translate(c, "…", "")))
    val symbolRatio = when(ntok === 0, lit(0.0))
      .otherwise(symbolHits.cast("double") / ntok)
    val nLines = lineStat(c, LineStatsExpr.NLines) // ≥ 1 for any non-null text
    val bulletRatio = lineStat(c, LineStatsExpr.BulletLines).cast("double") / nLines
    val ellipsisRatio = lineStat(c, LineStatsExpr.EllipsisLines).cast("double") / nLines
    val dupLineRatio = lit(1.0) - lineStat(c, LineStatsExpr.DistinctLines).cast("double") / nLines
    Seq(
      "n_tokens" -> ntok.cast("long"),
      "mean_token_len" -> meanLen,
      "symbol_ratio" -> symbolRatio,
      "bullet_ratio" -> bulletRatio,
      "ellipsis_ratio" -> ellipsisRatio,
      "dup_line_ratio" -> dupLineRatio,
      "rep_ngram" -> repetitionRatio(c, rules.ngramSize),
      "n_stopwords" -> distinctStopwordHits(c, rules.stopwords).cast("long"))
  }

  /** Verdict of the full rule set over precomputed signal columns. */
  private def passExpr(rules: QualityRules, sig: String => Column): Column =
    sig("n_tokens").between(rules.minTokens, rules.maxTokens) &&
      sig("mean_token_len").between(rules.minMeanTokenLen, rules.maxMeanTokenLen) &&
      sig("symbol_ratio") <= rules.maxSymbolRatio &&
      sig("bullet_ratio") <= rules.maxBulletLineRatio &&
      sig("ellipsis_ratio") <= rules.maxEllipsisLineRatio &&
      sig("dup_line_ratio") <= rules.maxDupLineRatio &&
      sig("rep_ngram") <= rules.maxDupNgramRatio &&
      sig("n_stopwords") >= rules.minDistinctStopwords

  /** The full rule verdict as one Column (for SQL registration and
    * ad-hoc projections — `qualityGate` for the audit view). */
  def qualityPass(c: Column, rules: QualityRules = QualityRules()): Column = {
    val sigs = qualitySignals(c, rules).toMap
    passExpr(rules, sigs)
  }

  /** Append every quality signal plus a `pass` verdict — the audit view
    * (what dropped each doc, and by how much). */
  def qualityGate(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      rules: QualityRules = QualityRules()): org.apache.spark.sql.DataFrame = {
    val sigs = qualitySignals(col(textCol), rules)
    val withSigs = sigs.foldLeft(df) { case (acc, (n, e)) => acc.withColumn(n, e) }
    withSigs.withColumn("pass", passExpr(rules, col))
  }

  /** Keep only documents passing every rule, original columns unchanged —
    * the production path (signals never materialize). */
  def qualityFilter(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      rules: QualityRules = QualityRules()): org.apache.spark.sql.DataFrame =
    df.where(qualityPass(col(textCol), rules))

  /** http(s) URLs appearing in free text (conservative pattern: scheme
    * through the first whitespace/angle/quote). */
  def extractUrls(c: Column): Column =
    regexp_extract_all(c, lit("https?://[^\\s<>\"']+"), lit(0))

  /** Lowercased host of a URL (credentials stripped, port/path/query
    * dropped); "" when the pattern doesn't match. */
  def urlDomain(url: Column): Column =
    lower(regexp_extract(url, "https?://(?:[^@/\\s]*@)?([^:/\\s?#]+)", 1))

  /** Drop every doc containing a URL whose host is on (or under) a
    * blocked domain — `dom` is blocked iff it equals a blocklist entry
    * or ends with "." + entry (label-boundary suffix: "x.bad.com" hits
    * "bad.com", "notbad.com" doesn't). The web-crawl hygiene filter.
    *
    * Scale shape: URL extraction and host parsing are narrow; suffix
    * matching is an EQUI-join — each host explodes to its ≤ label-count
    * dot-suffixes ("a.b.c" → a.b.c, b.c, c) joined broadcast against the
    * (tiny) blocklist, so no LIKE scan ever runs against the corpus.
    * Only the matched doc-id set (contamination-rate sized) flows into
    * the final anti-join. */
  def filterByDomainBlocklist(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      blocked: Seq[String]): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val blockedDf = blocked.map(_.toLowerCase).toDF("__b")
    val doms = df
      .select(col(idCol), explode(extractUrls(col(textCol))).as("__url"))
      .select(col(idCol), urlDomain(col("__url")).as("__dom"))
    val labels = split(col("__dom"), "\\.")
    val suffixes = doms.select(col(idCol),
      explode(transform(sequence(lit(0), size(labels) - 1),
        i => array_join(slice(labels, i + 1, size(labels) - i), "."))).as("__suf"))
    val hits = suffixes
      .join(broadcast(blockedDf), col("__suf") === col("__b"))
      .select(col(idCol)).distinct()
    df.join(hits, Seq(idCol), "left_anti")
  }

  /** Per-document duplicated-window fraction: the share of a doc's word
    * `k`-gram POSITIONS whose gram also appears in at least one OTHER
    * document — the "how much of this doc is copied from elsewhere"
    * signal behind exact-substring dedup (duplicated-span coverage at
    * word-gram granularity). Emits (idCol, n_grams, dup_grams,
    * dup_fraction); docs shorter than k tokens count their whole text as
    * one gram (same short-doc rule as the shingle machinery).
    *
    * Scale shape: position grams hash to longs; gram document-frequency
    * is a map-side-combinable count over the per-doc DISTINCT gram
    * relation; the position relation joins the (gram, df≥2) set on the
    * 64-bit hash and re-aggregates per doc — two hash shuffles of
    * (long, long) rows, nothing carries text. */
  /** Per-domain corpus stats over the URLs mentioned in document text:
    * distinct documents mentioning each host and total URL mentions —
    * the crawl-composition monitoring view ("which sites feed this
    * corpus"). Extraction and host parsing are narrow ([[extractUrls]] /
    * [[urlDomain]]); the aggregation shuffles only (domain, id) pairs
    * for the distinct-doc count — URL-mention-rate sized, never
    * text-sized. */
  def domainStats(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(extractUrls(col(textCol))).as("__url"))
      .select(col(idCol), urlDomain(col("__url")).as("domain"))
      .groupBy("domain")
      .agg(countDistinct(col(idCol)).as("n_docs"), count(lit(1)).as("n_urls"))

  /** Inverted index over whitespace tokens: per token, document
    * frequency and the sorted posting list — the classic IR structure
    * (retrieval, contamination lookup, df-based filtering). Tokens are
    * distinct per doc BEFORE the explode (smaller shuffle), so the
    * grouped ids are already unique; `minDf` bounds the output to
    * non-rare terms. Scale note: posting-list skew on stopword-class
    * tokens is inherent to the structure — at 100 TB shard wide lists by
    * (token, id-range) or raise `minDf`; the aggregation itself is
    * map-side combinable. */
  def invertedIndex(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDf: Long = 2L): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        explode(array_distinct(WsTokens.split(lower(trim(col(textCol)))))).as("token"))
      .groupBy("token")
      .agg(sort_array(collect_list(col(idCol))).as("postings"))
      .select(col("token"), size(col("postings")).cast("long").as("df"),
        col("postings"))
      .where(col("df") >= minDf)

  /** Per-document salient terms: top-`k` tokens by `tf · idf` where
    * `idf = (N − df + 0.5) / (df + 0.5)` — the BM25 idf WITHOUT the log.
    * The log is a monotone per-term transform an external engine's libm
    * may round differently; the rational form keeps the score a chain of
    * exactly-rounded IEEE ops (one subtraction chain, one division, one
    * multiplication), so scores AND ranks replay bit-exactly anywhere.
    * Ties break on the token.
    *
    * Scale shape: tf and df come from [[termFrequencies]] (one scan and
    * tokenization, map-side-combined aggregates); the join back is a
    * token-keyed equi-join, nothing all-pairs. df (a row per distinct
    * token) re-aggregates tf, so its size estimate never exceeds tf's:
    * AQE broadcasts df while it is under the broadcast threshold and
    * shuffles both sides above it, never broadcasting the (doc, token)
    * relation. The final top-k window partitions by doc. `n`
    * (corpus size) is one count action, scalar like the IVF centroid
    * collect. */
  def salientTerms(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val (tf, dfRel) = termFrequencies(df, idCol, textCol)
    val scored = tf.join(dfRel, Seq("token"))
      .withColumn("score", col("tf").cast("double") *
        ((lit(n.toDouble) - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col(idCol), col("token"), col("tf").cast("bigint").as("tf"),
        col("df").cast("bigint").as("df"), col("score"), col("rank"))
  }

  /** (id, token, tf) and (token, df) over the whitespace tokens of
    * `lower(trim(text))`, tokenizing the corpus once, on every core (a
    * scan narrower than the session is spread first,
    * [[graft.ops.Scale.spreadIfNarrow]]): tf is a map-side-combined
    * (id, token) count, df re-aggregates tf by token
    * (map-side combined too, a row per distinct token). df counts the
    * rows with a positive tf (all of them) rather than rows: over the
    * bare (id, token) keys column pruning would cut its tf aggregate
    * down to a distinct, whose exchange is not the tf exchange, so the
    * corpus would be scanned and tokenized a second time. (`count(tf)`
    * does not do: tf is never null, so the optimizer rewrites it to
    * `count(1)`.) */
  private def termFrequencies(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val tf = graft.ops.Scale.spreadIfNarrow(df).select(col(idCol),
        explode(WsTokens.split(lower(trim(col(textCol))))).as("token"))
      .groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    (tf, tf.groupBy("token").agg(count(when(col("tf") > 0, lit(1))).as("df")))
  }

  /** BM25-style document retrieval for a bag-of-terms query: each doc
    * scores `Σ_t tf(d,t) · idf(t)` over the query terms, with the same
    * log-free rational idf as [[salientTerms]] and the per-doc sum
    * folded IN TOKEN ORDER (query terms are a handful, but the fold
    * keeps the FP sequence data-determined and replayable). Query terms
    * join as a broadcast relation against the tf relation — the corpus
    * is never rescanned per term. Output: top-`k` (id, score, rank). */
  def searchTopDocs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: org.apache.spark.sql.DataFrame, // one column: token
      k: Int = 20): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count()
    val (tf, dfRel) = termFrequencies(df, idCol, textCol)
    val contrib = tf
      .join(broadcast(queryTerms.select(col("token"))), Seq("token"))
      .join(dfRel, Seq("token"))
      .select(col(idCol), struct(col("token"),
        (col("tf").cast("double") *
          ((lit(n.toDouble) - col("df").cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)))).as("p")).as("__tp"))
    val scored = contrib.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__tp"))).as("__ps"))
      .select(col(idCol),
        aggregate(
          slice(col("__ps"), lit(2), size(col("__ps")) - 1),
          element_at(col("__ps"), 1).getField("p"),
          (acc, sv) => acc + sv.getField("p")).as("score"))
    // sort+limit lowers to TakeOrderedAndProject (per-partition heaps +
    // driver merge of k·partitions rows); the ranking window then only
    // ever sees k rows — never a global single-partition sort
    scored.orderBy(col("score").desc, col(idCol)).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
    * combine heterogeneous retrieval legs (lexical BM25, vector ANN)
    * without score calibration: each leg contributes `1/(k0 + rank)`
    * and docs are re-ranked by the SUM over legs (docs missing from a
    * leg contribute nothing). Rank-only inputs make the fusion
    * engine-portable by construction — each contribution is ONE
    * correctly-rounded IEEE division and the per-doc sum has at most
    * `legs.size` terms (commutative, so grouping order can't bite at
    * 2 legs) — and the final top-`n` uses the TakeOrderedAndProject
    * idiom (per-partition heaps; the ranking window only ever sees
    * `n` rows). Legs are `(idCol, rank)` relations. */
  def rrfFuse(
      legs: Seq[org.apache.spark.sql.DataFrame],
      idCol: String,
      k0: Int = 60,
      topN: Int = 15): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(legs.size == 2, "rrfFuse: exactly two legs (double-sum exactness)")
    val contrib = legs.map(_.select(col(idCol),
        (lit(1.0) / (lit(k0.toDouble) + col("rank").cast("double"))).as("__c")))
      .reduce(_ unionByName _)
    contrib.groupBy(col(idCol))
      .agg(sum(col("__c")).as("rrf"), count(lit(1)).cast("int").as("n_legs"))
      .orderBy(col("rrf").desc, col(idCol)).limit(topN)
      .withColumn("rank", row_number().over(Window.orderBy(col("rrf").desc, col(idCol))))
  }

  /** DSIR-style hashed n-gram features (Xie et al. 2023): word-`n`-grams
    * bucketed by their portable-md5 prefix (256 buckets), counted per
    * document — the sparse feature map importance-resampling pipelines
    * score against. The md5 prefix is the [[graft.functions.Sampling]]
    * hash-split trick again: stable across runs, partitionings, and
    * engines, replayable as plain SQL. One map-side-combinable
    * (id, bucket) aggregation; docs shorter than `n` tokens contribute
    * their whole text as one gram. */
  def hashedNgramFeatures(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2): org.apache.spark.sql.DataFrame = {
    // raw string grams WITH multiplicity (unlike the dedup shingles —
    // DSIR features are counts, and md5 keeps the bucket portable);
    // fused construction ([[WordGramsExpr]], bit-identical to the
    // split/slide/concat_ws lambda)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val grams = ColumnBridge.column(WordGramsExpr(
      ColumnBridge.expression(lower(trim(col(textCol)))), n, distinct = false))
    df.select(col(idCol), explode(grams).as("__g"))
      .select(col(idCol), substring(md5(col("__g")), 1, 2).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).cast("bigint").as("cnt"))
  }

  /** DSIR importance weights (Xie et al. 2023, NeurIPS): score each raw
    * document by how target-like its hashed n-gram profile is. Bucket
    * weight = smoothed target/raw count ratio `(t_b+1)/(r_b+1)` (integer
    * counts + one division — portable); per-doc importance = the MEAN
    * ratio `(Σ cnt_b · w_b) / n_grams`, the sum folded IN BUCKET ORDER
    * so the FP summation sequence is a pure function of the data (the
    * meanPoolExact discipline for scalars) and replays bit-exactly.
    * The reference paper multiplies per-feature probabilities in log
    * space; the mean-ratio form keeps every step exactly rounded while
    * preserving the "more target-like gram mass → higher score"
    * ordering contract, and the length normalization stops raw volume
    * from outscoring affinity.
    *
    * Scale shape: features are (id, bucket) combinable aggs; the weight
    * relation is ≤256 rows and broadcasts; the per-doc fold touches at
    * most 256 structs. `target` is typically a small clean corpus (the
    * quality-gated subset, a reference crawl). */
  def dsirImportance(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      target: org.apache.spark.sql.DataFrame,
      n: Int = 2): org.apache.spark.sql.DataFrame = {
    val rawF = hashedNgramFeatures(df, idCol, textCol, n)
    val tgtF = hashedNgramFeatures(target, idCol, textCol, n)
    val rawB = rawF.groupBy("bucket").agg(sum("cnt").as("r"))
    val tgtB = tgtF.groupBy("bucket").agg(sum("cnt").as("t"))
    val w = rawB.join(tgtB, Seq("bucket"), "left")
      .select(col("bucket"),
        ((coalesce(col("t"), lit(0L)).cast("double") + lit(1.0)) /
          (col("r").cast("double") + lit(1.0))).as("w"))
    val withW = rawF.join(broadcast(w), Seq("bucket"))
      .select(col(idCol), col("cnt"),
        struct(col("bucket"), (col("cnt").cast("double") * col("w")).as("p")).as("__bp"))
    withW.groupBy(col(idCol))
      .agg(sum("cnt").cast("bigint").as("n_grams"),
        sort_array(collect_list(col("__bp"))).as("__ps"))
      .select(col(idCol), col("n_grams"),
        (aggregate(
          slice(col("__ps"), lit(2), size(col("__ps")) - 1),
          element_at(col("__ps"), 1).getField("p"),
          (acc, sv) => acc + sv.getField("p")) /
            col("n_grams").cast("double")).as("importance"))
  }

  /** Canonicalize a URL for identity comparison (the CommonCrawl-style
    * URL-dedup key): drop the fragment, lowercase the scheme+authority,
    * strip default ports (`:80` http, `:443` https), drop tracking
    * params (`utm_*`, `fbclid`, `gclid`) via a split→filter→rejoin (no
    * backreference replacement — Spark's `$1` and RE2's `\1` disagree,
    * so the whole chain sticks to ops both engines spell identically),
    * and collapse a bare `/` path. Pure narrow string expression. */
  def canonicalizeUrl(u: Column): Column = {
    val base = regexp_replace(u, "#.*", "")
    val auth = regexp_extract(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", 0)
    val rest = base.substr(length(auth) + 1, length(base))
    val authLc = lower(auth)
    val authNp =
      when(authLc.startsWith("http://") && authLc.endsWith(":80"),
        authLc.substr(lit(1), length(authLc) - 3))
      .when(authLc.startsWith("https://") && authLc.endsWith(":443"),
        authLc.substr(lit(1), length(authLc) - 4))
      .otherwise(authLc)
    val qPos = instr(rest, "?")
    val path = when(qPos > 0, rest.substr(lit(1), qPos - 1)).otherwise(rest)
    val query = when(qPos > 0, rest.substr(qPos + 1, length(rest))).otherwise(lit(""))
    val kept = filter(split(query, "&"), p =>
      p =!= "" && substring(p, 1, 4) =!= "utm_" &&
        substring(p, 1, 7) =!= "fbclid=" && substring(p, 1, 6) =!= "gclid=")
    val q2 = array_join(kept, "&")
    val path2 = when(path === "/", lit("")).otherwise(path)
    concat(authNp, path2,
      when(q2 === "", lit("")).otherwise(concat(lit("?"), q2)))
  }

  /** Snapshot diff between two corpus versions: one full-outer hash join
    * on id, status derived from presence and text equality. Emits only
    * changed rows (added/removed/changed) — the dataset-versioning view.
    * At scale the join is the one shuffle; unchanged rows never leave
    * the join projection. */
  def compareSnapshots(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val l = a.select(col(idCol), col(textCol).as("__ta"))
    val r = b.select(col(idCol), col(textCol).as("__tb"))
    l.join(r, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ta").isNull, lit("added"))
          .when(col("__tb").isNull, lit("removed"))
          .when(col("__ta") =!= col("__tb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .where(col("status") =!= "unchanged")
  }

  /** Token-count histogram in width-10 integer buckets (exact integer
    * division — no floating-point bucket edges): (bucket_lo, n_docs).
    * One combinable aggregation onto ~hundreds of keys. */
  def lengthHistogram(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.select((tokenCount(col(textCol)).cast("long")).as("__n"))
      .select((expr("__n div 10") * 10).as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n_docs"))

  /** Exact quantiles over a bounded-cardinality integer column WITHOUT a
    * global sort: count per distinct value (combinable agg), cumulative
    * sum over the DOMAIN-sized count relation, then `q` resolves to the
    * smallest value whose cumulative count reaches `ceil(q·N)`. At
    * 100 TB the corpus never sorts and never moves — only |domain| rows
    * enter the one-partition cumsum window (token counts, lengths,
    * scores on a grid: thousands of rows, not trillions). This is the
    * exact counterpart to `percentile_approx` for integer-ish columns —
    * same cost shape, no approximation. Threshold arithmetic is
    * `ceil(q · double(N))`, exactly rounded and replayable. Output:
    * one (q, value) row per requested quantile. */
  def exactIntQuantiles(
      df: org.apache.spark.sql.DataFrame,
      valueCol: Column,
      qs: Seq[Double]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty, "need at least one quantile")
    val counts = df.select(valueCol.cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val cum = counts.withColumn("cum",
      sum("c").over(Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = df.count()
    // ONE corpus scan for every requested quantile: the 4-row threshold
    // relation broadcast-theta-joins the domain-sized cum relation (a
    // union of per-q branches would rescan the corpus once per q)
    val qrows = qs.map(q => (q, math.max(1L, math.ceil(q * n.toDouble).toLong)))
    val qdf = df.sparkSession.createDataFrame(qrows).toDF("q", "thr")
    cum.join(broadcast(qdf), col("cum") >= col("thr"))
      .groupBy("q").agg(min("v").as("value"))
  }

  def dupSpanFraction(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    // fused gram construction ([[WordGramsExpr]] — bit-identical to the
    // split/slide/concat_ws lambda the oracles replay)
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rawGrams = ColumnBridge.column(WordGramsExpr(
      ColumnBridge.expression(lower(trim(col(textCol)))), k, distinct = false))
    // every position, with multiplicity — the coverage denominator
    val positions =
      df.select(col(idCol), explode(transform(rawGrams, g => xxhash64(g))).as("__g")).persist()
    // grams appearing in ≥ 2 distinct docs (distinct-per-doc first, so a
    // doc repeating its own phrase doesn't count as cross-doc duplication)
    val dupGrams = positions.select(col(idCol), col("__g")).distinct()
      .groupBy("__g").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2).select("__g")
    val perDoc = positions.groupBy(idCol).agg(count(lit(1)).as("n_grams"))
    val dupPerDoc = positions.join(dupGrams, Seq("__g"))
      .groupBy(idCol).agg(count(lit(1)).as("dup_grams"))
    perDoc.join(dupPerDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_fraction", col("dup_grams").cast("double") / col("n_grams"))
  }

  /** Cross-source contamination matrix: for every source pair, the count
    * of distinct word-`k`-shingles appearing in BOTH plus their shingle
    * Jaccard — the "is my eval split leaking into crawl source X"
    * analytics view. Pairs sharing nothing are absent (inner join).
    *
    * Scale shape: shingles hash to 64-bit longs ([[Dedup.wordShingles]]),
    * the distinct (source, gram) relation is the only corpus-sized
    * shuffle (a string + a long per row), and the pair explosion is
    * bounded by sources² per gram — the source dimension is catalog-
    * sized, not corpus-sized. Counts are exact up to ~2⁻⁶⁴ hash
    * collisions, the same contract as [[corpusReport]]'s distinct-text
    * figure. */
  def sourceOverlapMatrix(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      srcCol: String,
      k: Int = 3): org.apache.spark.sql.DataFrame = {
    // ONE shuffle total: the distinct (source, gram) relation groups by
    // gram into per-gram source sets (bounded by the source count), and
    // both the pair counts and the per-source sizes derive from that
    // relation with narrow explodes — no gram self-join, the gram hash
    // never shuffles twice. Cached, like the LSH signature relations,
    // because pairs and sizes both consume it.
    val perGram =
      df.select(col(srcCol).as("__s"),
          explode(Dedup.wordShingles(col(textCol), k)).as("__g"))
        .distinct()
        .groupBy("__g").agg(collect_set(col("__s")).as("__ss")).persist()
    val sizes = perGram.select(explode(col("__ss")).as("source_a"))
      .groupBy("source_a").agg(count(lit(1)).as("__na"))
    val shared = perGram
      .select(explode(col("__ss")).as("source_a"), col("__ss"))
      .select(col("source_a"), explode(col("__ss")).as("source_b"))
      .where(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared_grams"))
    shared
      .join(sizes, Seq("source_a"))
      .join(sizes.select(col("source_a").as("source_b"), col("__na").as("__nb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_grams"),
        (col("shared_grams").cast("double") /
          (col("__na") + col("__nb") - col("shared_grams"))).as("jaccard"))
  }

  /** One-call corpus health report, one row per `langCol` value: doc and
    * token counts, token-length spread, distinct-text count (over a
    * 64-bit text hash — exact up to ~2⁻⁶⁴ collisions, never shuffling
    * the text itself), and URL incidence. Every figure is an integer
    * aggregate or a single double division, so the whole report is
    * map-side combinable — one shuffle of (lang, partials). */
  def corpusReport(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      langCol: String): org.apache.spark.sql.DataFrame = {
    val ntok = tokenCount(col(textCol)).cast("long")
    df.select(col(langCol),
        ntok.as("__ntok"),
        xxhash64(col(textCol)).as("__fp"),
        (size(extractUrls(col(textCol))) > 0).cast("long").as("__has_url"))
      .groupBy(langCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("total_tokens"),
        min(col("__ntok")).as("min_tokens"),
        max(col("__ntok")).as("max_tokens"),
        (sum(col("__ntok")).cast("double") / count(lit(1))).as("avg_tokens"),
        countDistinct(col("__fp")).as("n_distinct_texts"),
        sum(col("__has_url")).as("n_docs_with_urls"))
  }

  /** Corpus drift report: [[corpusReport]] of two corpus snapshots
    * joined per language with volume ratios and a drift flag — the
    * before/after-curation (or day-over-day ingest) monitoring view.
    * Full-outer join: a language present in only one snapshot still
    * surfaces (counts coalesce to 0, ratio to 0). All figures are
    * integer aggregates or single divisions, so the report replays
    * exactly in any engine. */
  def compareCorpora(
      a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame,
      textCol: String,
      langCol: String,
      maxDocRatioDrift: Double = 0.5): org.apache.spark.sql.DataFrame = {
    def side(df: org.apache.spark.sql.DataFrame, suffix: String) =
      corpusReport(df, textCol, langCol).select(
        col(langCol),
        col("n_docs").as(s"n_docs_$suffix"),
        col("total_tokens").as(s"total_tokens_$suffix"))
    val ra = side(a, "a")
    val rb = side(b, "b")
    ra.join(rb, Seq(langCol), "full_outer")
      .select(col(langCol),
        coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
        coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
        coalesce(col("total_tokens_a"), lit(0L)).as("total_tokens_a"),
        coalesce(col("total_tokens_b"), lit(0L)).as("total_tokens_b"))
      .withColumn("doc_ratio",
        when(col("n_docs_a") === 0, lit(0.0))
          .otherwise(col("n_docs_b").cast("double") / col("n_docs_a")))
      .withColumn("token_ratio",
        when(col("total_tokens_a") === 0, lit(0.0))
          .otherwise(col("total_tokens_b").cast("double") / col("total_tokens_a")))
      .withColumn("drift_flag",
        abs(col("doc_ratio") - 1.0) > maxDocRatioDrift)
  }

  /** Default blocklist phrases for [[c4LineFilter]] (boilerplate markers
    * from the C4 cleaning recipe — public heuristics). */
  val C4Blocklist: Seq[String] = Seq("javascript", "cookie", "lorem ipsum", "{")

  /** C4-style per-line keep predicate (Raffel et al. 2020, §2.2 public
    * heuristics): the trimmed line must end in terminal punctuation, have
    * at least `minWords` whitespace words, and contain no blocklist
    * phrase (case-insensitive substring). */
  def c4KeepLine(l: Column, minWords: Int, blocklist: Seq[String]): Column = {
    val t = trim(l)
    val words = WsTokens.count(l)
    val noBlock = blocklist.map(p => !lower(t).contains(p)).reduce(_ && _)
    t.rlike("[.!?\"]$") && words >= minWords && noBlock
  }

  /** C4-style line-level cleaning: split on newlines, keep only lines
    * passing [[c4KeepLine]]. Returns the kept-lines array (callers join
    * with "\n" or count). Pure narrow projection — zero shuffle, the
    * lambda runs inside whole-stage codegen, so at 100 TB this rides the
    * scan like every other per-doc transform. */
  def c4LineFilter(
      c: Column,
      minWords: Int = 5,
      blocklist: Seq[String] = C4Blocklist): Column =
    filter(split(c, "\n"), l => c4KeepLine(l, minWords, blocklist))

  /** Exact duplicated-span scrub — the TRANSFORM counterpart of
    * [[dupSpanFraction]] (after Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", at word granularity): drop every
    * token covered by a word-`k`-gram that appears in ≥2 distinct
    * documents. With `keepFirst` (default) the gram's first owner (min
    * id) keeps its copy, so each duplicated span survives exactly once in
    * the corpus instead of vanishing everywhere.
    *
    * Scale shape: position grams ship as (id, pos, 64-bit xxhash) — the
    * text itself never shuffles; duplicated-gram doc-frequency + owner
    * come from one agg over the per-doc distinct relation; scrub starts
    * return to each doc as a sorted int array bounded by that doc's own
    * gram count; reconstruction is a narrow projection. Two (long,long)
    * hash shuffles total, identical to [[dupSpanFraction]]. The per-doc
    * rebuild is O(tokens × scrub-starts) in the worst case — both are
    * document-local, never corpus-sized. Counts are exact up to ~2⁻⁶⁴
    * gram-hash collisions (the file-wide contract). Output:
    * (id, n_tokens, removed_tokens, kept_text). Docs shorter than `k`
    * tokens have no grams and pass through untouched. */
  def scrubDupSpans(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      keepFirst: Boolean = true): org.apache.spark.sql.DataFrame = {
    val toksCol = WsTokens.split(lower(trim(col(textCol))))
    val withToks = df.select(col(idCol), toksCol.as("__toks"))
    val n = size(col("__toks"))
    val grams = withToks.where(n >= k).select(col(idCol),
      posexplode(transform(sequence(lit(0), n - k),
        i => xxhash64(concat_ws(" ", slice(col("__toks"), i + 1, lit(k))))))
        .as(Seq("__pos", "__g")))
    val positions = grams.persist()
    val dupOwned = positions.select(col(idCol), col("__g")).distinct()
      .groupBy("__g")
      .agg(count(lit(1)).as("__df"), min(col(idCol)).as("__owner"))
      .where(col("__df") >= 2)
      .select(col("__g"), col("__owner"))
    val joined = positions.join(dupOwned, Seq("__g"))
    val scrub =
      (if (keepFirst) joined.where(col(idCol) =!= col("__owner")) else joined)
        .groupBy(idCol).agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    withToks.join(scrub, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"))
      .select(col(idCol), col("__toks"),
        filter(col("__toks"), (_, j) =>
          !exists(col("__starts"), s => j >= s && j < s + k)).as("__kept"))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("removed_tokens"),
        array_join(col("__kept"), " ").as("kept_text"))
  }

  /** English stopwords (public, standard list excerpt). */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "if", "then", "else", "of", "to",
    "in", "on", "at", "by", "for", "with", "about", "from", "up", "down",
    "is", "are", "was", "were", "be", "been", "being", "have", "has", "had",
    "do", "does", "did", "will", "would", "can", "could", "it", "its", "this",
    "that", "these", "those", "he", "she", "they", "them", "his", "her",
    "their", "we", "you", "i", "me", "my", "our", "your", "not", "no", "as")

  /** Tiny public stopword profiles per language for [[langId]]. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "that", "it", "for", "with", "was", "are"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "por", "con", "para", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "dem", "ein", "eine", "nicht", "auf"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "est", "un", "une", "du", "que", "pour", "dans", "qui"),
    "it" -> Seq("il", "lo", "la", "gli", "di", "che", "e", "un", "una", "per", "con", "non", "sono"),
    "pt" -> Seq("o", "a", "os", "as", "de", "que", "e", "em", "um", "uma", "para", "com", "não"),
    "nl" -> Seq("de", "het", "een", "en", "van", "is", "dat", "op", "te", "zijn", "met", "voor"))
}

/** Count of whitespace-separated tokens in a fixed word set, as one
  * codegen'd pass over the [[WsTokens]] walk (the non-empty tokens of
  * `split(s, "\\s+")` — an empty token can't match a non-empty word),
  * probing a prebuilt hash set. The input arrives lowercased by Spark's
  * `lower()` ([[TextAnalysis.stopwordHits]]): a per-token
  * `UTF8String.toLowerCase` is the JDK's mapping, which differs from
  * `lower()`'s ICU mapping on capitals encoded after Unicode 13 (U+A7C0,
  * U+2C2F, U+10570 stay upper under JDK 17). Replaces an interpreted
  * `filter(toks, t => array_contains(lit(words), lower(t)))`, which walks
  * the word array per token through the interpreted-lambda path.
  */
case class StopwordHitsExpr(child: Expression, words: Seq[String]) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    StopwordHitsExpr.hits(input.asInstanceOf[UTF8String].getBytes, set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopwords", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.StopwordHitsExpr.hits($c.getBytes(), $setRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "stopword_hits"
}

object StopwordHitsExpr {
  /** Matching-token count (called from codegen). */
  def hits(bytes: Array[Byte], set: java.util.HashSet[UTF8String]): Int = {
    var count = 0
    WsTokens.foreachToken(bytes, 0, bytes.length) { (s, e) =>
      if (set.contains(UTF8String.fromBytes(bytes, s, e - s))) count += 1
    }
    count
  }
}

/** `Σ max(1, ceil(codepoints/4))` over whitespace tokens in one codegen'd
  * pass — the subword-count fold, replacing an interpreted
  * `aggregate(split(...))` higher-order function. `split(s, "\\s+")`
  * parity: an empty or leading-separator input contributes one empty
  * token, and a trailing separator another (each counted as 1 subword),
  * matching the Column form exactly. */
case class TokenFoldExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    TokenFoldExpr.subwords(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenFoldExpr.subwords($c.getBytes());")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "subword_count"
}

object TokenFoldExpr {
  def subwords(bytes: Array[Byte]): Int = {
    val len = bytes.length
    // the empty edge tokens of split("\\s+") count 1 subword each
    var total = 0
    if (WsTokens.leadingEmpty(bytes, 0, len)) total += 1
    if (WsTokens.trailingEmpty(bytes, 0, len)) total += 1
    WsTokens.foreachToken(bytes, 0, len) { (s, e) =>
      var chars = 0
      var i = s
      while (i < e) {
        if ((bytes(i) & 0xc0) != 0x80) chars += 1 // codepoint leading byte
        i += 1
      }
      total += math.max(1, (chars + 3) / 4)
    }
    total
  }
}

/** Duplicate-n-gram ratio of a whitespace-normalized string in one
  * codegen'd pass: tokens are single-space runs, each n-gram is XXH64 of
  * the byte range spanning n consecutive tokens, distinct counted in a
  * per-row open-address set; result = 1 − distinct/total (0 when fewer
  * than n tokens). */
case class RepetitionRatioExpr(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.DoubleType
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    RepetitionRatioExpr.ratio(input.asInstanceOf[UTF8String].getBytes, n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionRatioExpr.ratio($c.getBytes(), $n);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "repetition_ratio"
}

object RepetitionRatioExpr {
  def ratio(bytes: Array[Byte], n: Int): Double = {
    val len = bytes.length
    // token start offsets in the single-space-normalized text; a leading
    // space yields a leading empty token (split("\\s+") parity)
    var offs = new Array[Int](math.max(16, len / 2 + 2))
    var count = 0
    def push(v: Int): Unit = {
      if (count == offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
      offs(count) = v; count += 1
    }
    push(0)
    var i = 0
    while (i < len) {
      if (bytes(i) == ' '.toByte) push(i + 1)
      i += 1
    }
    push(len + 1)
    val tokens = count - 1
    val total = tokens - (n - 1)
    if (total <= 0) return 0.0
    var cap = 16
    while (cap < total * 2) cap <<= 1
    val table = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    var distinct = 0
    var w = 0
    while (w < total) {
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + offs(w),
        (offs(w + n) - 1) - offs(w), 42L)
      var idx = (scala.util.hashing.byteswap64(h) & (cap - 1)).toInt
      while (used(idx) && table(idx) != h) idx = (idx + 1) & (cap - 1)
      if (!used(idx)) { used(idx) = true; table(idx) = h; distinct += 1 }
      w += 1
    }
    1.0 - distinct.toDouble / total
  }
}

/** Unicode NFC (canonical composition) of a string — a codegen'd wrapper
  * over `java.text.Normalizer` (the JDK's ICU-derived tables; DuckDB's
  * `nfc_normalize` implements the same Unicode algorithm, which is what
  * makes the oracle replay possible). Fast path: pure-ASCII inputs (the
  * overwhelming majority in web corpora) return the input UTF8String
  * unchanged without materializing a Java String. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    NfcNormalizeExpr.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalizeExpr.nfc($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

/** UTF-8-as-Latin-1 double-encoding repair — see
  * [[TextAnalysis.fixMojibake]] for the acceptance rule. */
case class MojibakeFixExpr(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types.StringType
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    MojibakeFixExpr.fix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MojibakeFixExpr.fix($c);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fix_mojibake"
}

object MojibakeFixExpr {
  def fix(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) {
      if ((bytes(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) return s // ASCII can't be mojibake; round-trip is identity
    val str = s.toString
    // "encode as ISO-8859-1, REPORT on unmappable": chars U+0000–U+00FF
    // map 1:1 to bytes, anything above means the text was never a
    // Latin-1 misdecode — keep the original
    val raw = new Array[Byte](str.length)
    i = 0
    while (i < str.length) {
      val ch = str.charAt(i)
      if (ch > 0xFF) return s
      raw(i) = ch.toByte
      i += 1
    }
    // strict UTF-8 decode: malformed bytes mean "not mojibake" — return
    // the original rather than ever emitting a replacement char
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      val fixed = dec.decode(java.nio.ByteBuffer.wrap(raw)).toString
      if (fixed.length < str.length) UTF8String.fromString(fixed) else s
    } catch {
      case _: java.nio.charset.CharacterCodingException => s
    }
  }
}

object NfcNormalizeExpr {
  def nfc(s: UTF8String): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) {
      if ((bytes(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (ascii) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }
}

/** Count of DISTINCT words from a fixed set appearing among the
  * whitespace tokens of the input (lowercased by Spark's `lower()` before
  * it arrives, see [[StopwordHitsExpr]]) — the Gopher "contains at least
  * k of the stop list" gate in one codegen'd pass over the [[WsTokens]]
  * walk; matches collect into a per-row set so repeats count once. */
case class DistinctStopwordHitsExpr(child: Expression, words: Seq[String]) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  override def dataType: DataType = IntegerType

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    DistinctStopwordHitsExpr.distinctHits(input.asInstanceOf[UTF8String].getBytes, set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopwords", set, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DistinctStopwordHitsExpr.distinctHits($c.getBytes(), $setRef);")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "distinct_stopword_hits"
}

object DistinctStopwordHitsExpr {
  def distinctHits(bytes: Array[Byte], set: java.util.HashSet[UTF8String]): Int = {
    val seen = new java.util.HashSet[UTF8String](8)
    WsTokens.foreachToken(bytes, 0, bytes.length) { (s, e) =>
      val t = UTF8String.fromBytes(bytes, s, e - s)
      if (set.contains(t)) seen.add(t)
    }
    seen.size
  }
}

/** Per-document line statistics in one codegen'd byte loop, selector
  * `which`: total line count, bullet-led lines, ellipsis-ended lines, or
  * distinct lines. Line semantics match `split(text, '\n')` with Spark's
  * default limit −1 / DuckDB `string_split(text, chr(10))`: every '\n'
  * opens a new line, empties (including a trailing one) count.
  *   - bullet: first byte after leading 0x20 spaces (ltrim parity) is
  *     '-', '*', or the UTF-8 of '•';
  *   - ellipsis: last bytes after trailing-space rtrim are "...";
  *   - distinct: XXH64 of the exact line bytes, per-row open-address set
  *     (exact up to ~2⁻⁶⁴ per-doc collisions, same contract as
  *     [[RepetitionRatioExpr]]). */
case class LineStatsExpr(child: Expression, which: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.IntegerType
  require(which >= LineStatsExpr.NLines && which <= LineStatsExpr.DistinctLines,
    s"unknown line stat $which")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(input: Any): Any =
    LineStatsExpr.stat(input.asInstanceOf[UTF8String].getBytes, which)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LineStatsExpr.stat($c.getBytes(), $which);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "line_stat"
}

object LineStatsExpr {
  val NLines = 0
  val BulletLines = 1
  val EllipsisLines = 2
  val DistinctLines = 3

  def stat(bytes: Array[Byte], which: Int): Int = {
    val len = bytes.length
    var nLines = 0
    var hits = 0
    // distinct-line open-address hash set (0 = empty slot; a real 0 hash
    // is nudged to 1), grown by rehash at 1/2 load so probes stay O(1)
    // for any input size
    var table = new Array[Long](16)
    var distinct = 0
    def insert(t: Array[Long], h: Long): Boolean = {
      val cap = t.length
      var idx = (scala.util.hashing.byteswap64(h) & (cap - 1)).toInt
      while (t(idx) != 0L && t(idx) != h) idx = (idx + 1) & (cap - 1)
      if (t(idx) == 0L) { t(idx) = h; true } else false
    }
    def addDistinct(s: Int, e: Int): Unit = {
      var h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, e - s, 42L)
      if (h == 0L) h = 1L
      if (insert(table, h)) {
        distinct += 1
        if (distinct * 2 >= table.length) {
          val grown = new Array[Long](table.length * 2)
          table.foreach(v => if (v != 0L) insert(grown, v))
          table = grown
        }
      }
    }
    def isBullet(s: Int, e: Int): Boolean = {
      var i = s
      while (i < e && bytes(i) == ' '.toByte) i += 1
      if (i >= e) false
      else bytes(i) == '-'.toByte || bytes(i) == '*'.toByte ||
        (e - i >= 3 && bytes(i) == 0xe2.toByte &&
          bytes(i + 1) == 0x80.toByte && bytes(i + 2) == 0xa2.toByte)
    }
    def isEllipsis(s: Int, e: Int): Boolean = {
      var j = e
      while (j > s && bytes(j - 1) == ' '.toByte) j -= 1
      j - s >= 3 && bytes(j - 1) == '.'.toByte && bytes(j - 2) == '.'.toByte &&
        bytes(j - 3) == '.'.toByte
    }
    def line(s: Int, e: Int): Unit = {
      nLines += 1
      which match {
        case BulletLines   => if (isBullet(s, e)) hits += 1
        case EllipsisLines => if (isEllipsis(s, e)) hits += 1
        case DistinctLines => addDistinct(s, e)
        case _             => ()
      }
    }
    var start = 0
    var i = 0
    while (i < len) {
      if (bytes(i) == '\n'.toByte) { line(start, i); start = i + 1 }
      i += 1
    }
    line(start, len)
    which match {
      case NLines        => nLines
      case DistinctLines => distinct
      case _             => hits
    }
  }
}

/** FNV-1a-style 64-bit rolling hash over a string's UTF-8 bytes, with full
  * whole-stage-codegen support (`doGenCode` emits a tight byte loop — no
  * boxing, no UDF serialization). Deterministic across JVMs/partitions;
  * suitable for document fingerprinting and hash-based dedup keys.
  */
case class Fingerprint64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = 0xcbf29ce484222325L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h ^= ($bytes[$i] & 0xffL);
         |  $h *= 0x100000001b3L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fingerprint64"
}

/** All word k-grams of a string as `array<string>` in ONE codegen'd
  * pass — bit-identical to the lambda spelling
  * `when(size(toks) < k, array(concat_ws(" ", toks)))
  *   .otherwise(transform(sequence(0, size(toks) - k),
  *     i => concat_ws(" ", slice(toks, i + 1, k))))`
  * over `toks = split(s, "\\s+")` (with `array_distinct` folded in when
  * `distinct`): tokens follow Spark split's limit = -1 semantics
  * (leading AND trailing whitespace runs produce empty tokens,
  * "" → [""]), grams join k consecutive tokens with single spaces, and
  * n < k collapses to ONE gram of all tokens. Callers pass the already
  * lower(trim(..))-normalized column. Replaces the interpreted
  * transform/slice/concat_ws chain that dominated the sketch/banding
  * rows' CPU (and, before round 12's InferFiltersFromGenerate
  * exclusion, ran TWICE more inside the scan-stage filter). Equality
  * with the lambda spelling is pinned by TextExprPropertySpec. */
case class WordGramsExpr(child: Expression, k: Int, distinct: Boolean)
    extends UnaryExpression {
  import org.apache.spark.sql.types.{ArrayType, StringType}
  require(k >= 1, "gram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    WordGramsExpr.grams(input.asInstanceOf[UTF8String].getBytes, k, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordGramsExpr.grams($c.getBytes(), $k, $distinct);")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_grams"
}

object WordGramsExpr {
  /** Called from codegen. */
  def grams(bytes: Array[Byte], k: Int,
      distinct: Boolean): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val len = bytes.length
    // token spans [starts(i), ends(i)) under Spark split("\s+", -1):
    // empty tokens at both ends when the string starts/ends with a run
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var n = 0
    def push(s: Int, e: Int): Unit = {
      if (n == starts.length) {
        starts = java.util.Arrays.copyOf(starts, n * 2)
        ends = java.util.Arrays.copyOf(ends, n * 2)
      }
      starts(n) = s; ends(n) = e; n += 1
    }
    if (WsTokens.leadingEmpty(bytes, 0, len)) push(0, 0)
    WsTokens.foreachToken(bytes, 0, len)(push)
    if (WsTokens.trailingEmpty(bytes, 0, len)) push(len, len)
    val span = if (n < k) n else k // tokens per gram
    val nGrams = if (n < k) 1 else n - k + 1
    val out = new Array[Any](nGrams)
    var outN = 0
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var g = 0
    while (g < nGrams) {
      var size = span - 1 // single-space separators (span >= 1: n >= 1 always)
      var t = g
      while (t < g + span) { size += ends(t) - starts(t); t += 1 }
      val buf = new Array[Byte](size)
      var pos = 0
      t = g
      while (t < g + span) {
        if (t > g) { buf(pos) = ' '.toByte; pos += 1 }
        val l = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), buf, pos, l)
        pos += l
        t += 1
      }
      val s = UTF8String.fromBytes(buf)
      if (seen == null || seen.add(s)) { out(outN) = s; outN += 1 }
      g += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (outN == out.length) out
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], outN)
        .asInstanceOf[Array[Any]])
  }
}
