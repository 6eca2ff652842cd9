package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.io.Fixtures
import graft.streaming.Streams

/** Streaming verification queries: real Structured Streaming runs (file
  * source → watermark → stateful/windowed op → memory sink) whose finite
  * results are SQL-expressible for the DuckDB oracle.
  */
object StreamingQueries {

  /** The events stream's base files, staged once per (app, sfDir) and
    * shared by the read-only consumers; the mutating consumer
    * (sessionizeStream appends sentinel files) takes a private overlay
    * via [[stagedSource]]. One file per half of the events, split at the
    * median event time, so a stream at `maxFilesPerTrigger=1` runs two
    * micro-batches whatever the input's row-group layout. */
  private def stageEventDir(spark: SparkSession, sfDir: String): String = {
    lazy val events = Tables.read(spark, sfDir, "events")
    // Split by event time, not id: micro-batches must arrive in rough time
    // order or the second batch falls below the watermark and is dropped —
    // exactly like a production file stream tailing time-partitioned drops.
    // unix_micros states the intent (epoch comparison) and requires the
    // normalized TimestampType from Tables.read — a raw NTZ/long ts would
    // fail here loudly instead of silently shifting the split point
    lazy val median = events.selectExpr("percentile_approx(unix_micros(ts), 0.5)")
      .collect()(0).getLong(0)
    stageTwoBatches(spark, sfDir,
      events.where(unix_micros(col("ts")) <= median),
      events.where(unix_micros(col("ts")) > median),
      "stream-events")
  }

  /** A per-invocation OVERLAY of the events stream's base files: the
    * mutating consumer appends sentinel files, so it cannot share the base
    * directory — but the base FILES are immutable, so hard links (same
    * inode, no byte copy) stand in for a full copy where the filesystem
    * allows; only the sentinel files are ever new bytes. Links and
    * fallback copies both keep the base's mtimes, which are pinned in
    * name order, so ingestion order is preserved as-is. */
  private def stagedSource(spark: SparkSession, sfDir: String, caller: String): String = {
    val base = stageEventDir(spark, sfDir)
    val out = java.nio.file.Paths.get(Fixtures.scratch(s"graft_stream_$caller"))
    new java.io.File(base).listFiles().filter(_.isFile).foreach { f =>
      Fixtures.linkOrCopy(f.toPath, out.resolve(f.getName))
    }
    out.toString
  }

  /** Streaming tumbling-window aggregation over the events file stream,
    * drained to completion (Complete mode) — equals the batch/SQL result. */
  def streamWindowAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventDir(spark, sfDir)
    val stream = spark.readStream
      .schema(Tables.read(spark, sfDir, "events").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    Streams.drain(Streams.windowedEventCounts(stream, "1 hour", "2 hours"), "window", OutputMode.Complete())
      .orderBy("window_start", "event_type")
  }

  /** Batch gap-and-island sessionization (30-minute gap). */
  def sessionizeBatch(spark: SparkSession, sfDir: String): DataFrame =
    Streams.sessionizeBatch(
      Tables.read(spark, sfDir, "events").select("user_id", "ts", "value"), 30)
      .orderBy("user_id", "session_start")

  /** Streaming stateful sessionization (flatMapGroupsWithState with
    * event-time timeout) over the same events, flushed via a sentinel
    * batch that advances the watermark; must equal the batch plan. */
  def sessionizeStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = stagedSource(spark, sfDir, "sess")
    val schema = Tables.read(spark, sfDir, "events").schema
    // one file per trigger → 2 data batches (+2 sentinel rounds): state
    // crosses batches and timeouts fire
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Streams.Event]
    // sentinel events far in the future: advance the watermark, then fire
    // the event-time timeouts in a follow-up batch. The sentinel FILES
    // are a deterministic function of the dataset (far = max event ts),
    // so they stage once per (app, sfDir) and each invocation overlays
    // them into its private dir — the two per-invocation 1-row parquet
    // write jobs were fixture encoding, not the operator.
    val sentinels = stagedSessionSentinels(spark, sfDir)
    val feeds = (0 until 2).map { i => () =>
      Fixtures.linkOrCopy(java.nio.file.Paths.get(s"$sentinels/sentinel$i.parquet"),
        java.nio.file.Paths.get(s"$dir/zz_sentinel$i.parquet"))
    }
    Streams.drain(Streams.sessionizeStream(stream, gapMinutes = 30).toDF(), "sess",
        OutputMode.Append(), feeds)
      .where(col("user_id") < 9999991L)
      .orderBy("user_id", "session_start")
  }

  /** The sessionize sentinel files `sentinel0.parquet` and
    * `sentinel1.parquet` — two 1-row parquet files whose events sit far
    * past the dataset's max event time (watermark advancers).
    * Deterministic per dataset, so staged ONCE per (app, sfDir) and
    * overlaid into each invocation's private source dir; mtimes are
    * pinned AFTER the base batch files so listing order stays the
    * ingestion order. */
  private def stagedSessionSentinels(spark: SparkSession, sfDir: String): String =
    Fixtures.staged(spark, sfDir, "stream-sentinels") { dir =>
      import spark.implicits._
      val far = Tables.read(spark, sfDir, "events").select(max(col("ts"))).collect()(0)
        .getTimestamp(0).getTime
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      Seq(
        Streams.Event(99999901L, new java.sql.Timestamp(far + 86400000L), 9999991L, "view", 0.0),
        Streams.Event(99999902L, new java.sql.Timestamp(far + 86400000L * 2), 9999992L, "view", 0.0))
        .zipWithIndex.foreach { case (e, i) =>
          Seq(e).toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/s$i")
          val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/s$i"))
            .filter(_.getPath.getName.startsWith("part-")).head
          val out = new java.io.File(s"$dir/sentinel$i.parquet")
          fs.rename(part.getPath, new org.apache.hadoop.fs.Path(out.getPath))
          out.setLastModified(1000000000000L + (4 + i) * 60000L)
        }
    }

  /** Stage `first`/`second` as two mtime-ordered parquet files so
    * `maxFilesPerTrigger=1` replays them as two micro-batches — the
    * cross-batch-state harness shared by the streaming dedup queries.
    *
    * Staged ONCE per (app, sfDir, name) and served from the artifact on
    * every later call: the staged files are the stream's input FIXTURE,
    * not the operator under test — re-encoding them per invocation priced
    * two extra write jobs into every streaming row. Content per key is a
    * deterministic function of the test tables, every consumer is
    * read-only (the one mutating consumer, sessionize, goes through its
    * own private [[stagedSource]] copy), and each call site uses a unique
    * name. */
  private def stageTwoBatches(spark: SparkSession, sfDir: String,
      first: => DataFrame, second: => DataFrame, name: String): String =
    Fixtures.staged(spark, sfDir, name) { dir =>
      first.coalesce(1).write.mode("overwrite").parquet(s"$dir/b0")
      second.coalesce(1).write.mode("overwrite").parquet(s"$dir/b1")
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      Seq("b0", "b1").zipWithIndex.foreach { case (sub, i) =>
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
          .filter(_.getPath.getName.startsWith("part-"))
          .foreach { st =>
            fs.rename(st.getPath, new org.apache.hadoop.fs.Path(s"$dir/in$i.parquet"))
            new java.io.File(s"$dir/in$i.parquet").setLastModified(1000000000000L + i * 60000L)
          }
      }
    }

  /** Streaming Count-Min: the d×w counter table
    * ([[graft.functions.Sketch.cmsTable]]) as a stateful streaming
    * aggregation — the incremental form of frequency sketching: state is
    * at most d·w counters no matter how much crawl flows through, and
    * counts are order-free sums, so draining the two-batch stream in
    * Complete mode yields EXACTLY the batch counter table (the oracle
    * replays the same row:item md5 buckets and counts). Point lookups
    * then run against the drained table exactly as in the batch path. */
  def cmsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-cms")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val items = stream.select(
      explode(PipelineQueries.bigramsOf(col("text"))).as("gm"))
    val out = graft.functions.Sketch.cmsTable(items, "gm", depth = 4, width = 512)
    Streams.drain(out, "cms", OutputMode.Complete())
      .select(col("cms_row").cast("int").as("cms_row"),
        col("cms_bucket").cast("bigint").as("cms_bucket"),
        col("cnt").cast("bigint").as("cnt"))
      .orderBy("cms_row", "cms_bucket")
  }

  /** Streaming backward as-of join ([[Streams.asofBackwardStream]]): the
    * purchase history streams in first (batch 0, plus the even-id half of
    * the view/click probes), the remaining probes arrive in batch 1 and
    * enrich against per-user state built a batch earlier — point-in-time
    * enrichment with genuinely cross-batch state. Because every purchase
    * precedes every probe that could need it, draining the stream equals
    * the batch as-of join exactly: the oracle IS `p_asof_join`'s DuckDB
    * ASOF replay. */
  def asofStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.read(spark, sfDir, "events")
    val rights = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("key"), col("ts"), lit(0).as("side"),
        lit(-1L).as("left_id"), col("value").as("payload"))
    val lefts = events.where(col("event_type").isin("view", "click"))
      .select(col("user_id").as("key"), col("ts"), lit(1).as("side"),
        col("event_id").as("left_id"), lit(0.0).as("payload"))
    val dir = stageTwoBatches(spark, sfDir,
      rights.unionByName(lefts.where(col("left_id") % 2 === 0)),
      lefts.where(col("left_id") % 2 === 1),
      "stream-asof")
    val schema = rights.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .as[Streams.AsOfIn]
    val out = Streams.asofBackwardStream(stream).toDF()
    Streams.drain(out, "asof", OutputMode.Append())
      .select(col("left_id").as("event_id"), col("key").as("user_id"),
        col("matched").as("purchase_value"))
      .orderBy("event_id")
  }

  /** Streaming exact decontamination: a document stream filtered against
    * a STATIC reference set (every 7th doc's text) with a stream-static
    * left-anti join — the production shape for "drop benchmark text from
    * an incoming crawl" (the static side stays a plain DataFrame; Spark
    * re-plans it per micro-batch, broadcast when small). Two
    * micro-batches; append mode; no state needed — anti-join against a
    * static side is stateless per batch, so the result equals the batch
    * anti-join and shares p_decontaminate_bloom's oracle shape. */
  def decontaminateStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.read(spark, sfDir, "documents").select("doc_id", "text")
    val dir = stageTwoBatches(spark, sfDir,
      docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
      "stream-decon")
    val ref = docs.where(col("doc_id") % 7 === 0)
      .select(col("text").as("__rtext")).dropDuplicates("__rtext")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val clean = stream.join(ref, stream("text") === ref("__rtext"), "left_anti")
    Streams.drain(clean, "decon", OutputMode.Append())
      .select("doc_id").orderBy("doc_id")
  }

  /** Streaming quality gate: the decorated rule-firing corpus of
    * `p_quality_filter` flows through the SAME codegen'd rule set as a
    * stateless streaming filter (append mode, no state) — quality
    * filtering an incoming crawl is a pure projection, so the streaming
    * result equals the batch pass set and shares its oracle's verdict. */
  def qualityStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = PipelineQueries.qualityCorpus(spark, sfDir)
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-quality")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val kept = graft.functions.TextAnalysis.qualityFilter(
      stream, "text", PipelineQueries.qualityRules)
    Streams.drain(kept, "quality", OutputMode.Append())
      .select("doc_id").orderBy("doc_id")
  }

  /** Streaming quality-classifier scoring: the fused zero-state scorer
    * ([[graft.functions.Classifier.scoreQualityFused]] — the whole model
    * inside one codegen'd projection) over a two-batch document stream.
    * Stateless, so Append mode needs no watermark and the stream result
    * equals the batch scorer row-for-row — which is exactly what the
    * oracle (the batch p_quality_classifier replay) checks. */
  def classifierStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents").select("doc_id", "text")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-classifier")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val scored = graft.functions.Classifier.scoreQualityFused(stream, "doc_id", "text")
    Streams.drain(scored, "classifier", OutputMode.Append())
      .select("doc_id", "score", "keep").orderBy("doc_id")
  }

  /** Streaming PII scrub: the typed redaction chain
    * ([[graft.functions.TextAnalysis.scrubPii]] — email → IP → phone
    * placeholders with per-category counts) over a two-batch stream of
    * the PII-decorated corpus. Stateless projections, so Append mode
    * needs no watermark and the stream equals the batch scrub
    * row-for-row — the oracle IS the batch p_pii_scrub replay. */
  def piiScrubStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = PipelineQueries.piiCorpus(spark, sfDir)
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-pii")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val scrubbed = graft.functions.TextAnalysis.scrubPii(stream, "doc_id", "text")
    Streams.drain(scrubbed, "pii", OutputMode.Append())
      .select("doc_id", "text", "n_email", "n_ip", "n_phone").orderBy("doc_id")
  }

  /** Streaming mojibake repair — [[PipelineQueries.fixMojibakeQ]]'s
    * Latin-1 → strict-UTF-8 round-trip as a stateless streaming
    * projection (per-row, zero state, zero shuffle: the shape that runs
    * on an arriving crawl without reprocessing history). Two-batch file
    * stream drained in Append mode equals the batch result, so the
    * oracle IS the batch replay. */
  def fixMojibakeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = PipelineQueries.mojibakeCorpus(spark, sfDir)
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-moji")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val fixed = stream.select(col("doc_id"),
        graft.functions.TextAnalysis.fixMojibake(col("text")).as("ftext"),
        length(col("text")).as("__l0"))
      .select(col("doc_id"), col("ftext").as("text"),
        (col("__l0") - length(col("ftext"))).cast("bigint").as("n_repaired"))
    Streams.drain(fixed, "moji", OutputMode.Append())
      .select("doc_id", "text", "n_repaired").orderBy("doc_id")
  }

  /** Streaming bounded-state sketching: the per-source KMV
    * distinct-bigram sketch ([[graft.functions.Sketch]]) as a STATEFUL
    * streaming aggregation — the operational point of an O(k)
    * merge-associative sketch at 100 TB is precisely that corpus stats
    * keep running over an incoming crawl without reprocessing history.
    * Per-source state is the 64-long k-min set (the
    * TypedImperativeAggregate buffer serializing into the state store);
    * set-semantics merge makes the result independent of how the corpus
    * splits into micro-batches, so draining the two-batch stream in
    * Complete mode yields EXACTLY the batch sketch — the oracle IS the
    * batch `p_sketch_vocab` replay, and the gram/aggregation code is
    * shared with the batch query by construction
    * ([[PipelineQueries.sketchVocabAgg]]). */
  def sketchStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-sketch")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val items = stream.select(col("source"),
      explode(PipelineQueries.bigramsOf(col("text"))).as("gm"))
    val out = PipelineQueries.sketchVocabAgg(items)
    Streams.drain(out, "sketch", OutputMode.Complete())
      .orderBy("source")
  }

  /** Streaming HyperLogLog: the per-source HLL distinct-bigram registers
    * ([[graft.functions.Sketch.hll]]) as a stateful streaming
    * aggregation — per-source state is EXACTLY 256 register bytes in the
    * state store no matter how much crawl flows through, and elementwise
    * max is order/batch-split-invariant, so draining the two-batch
    * stream in Complete mode yields EXACTLY the batch sketch: the oracle
    * IS the batch `p_sketch_hll` replay, and the gram/aggregation code is
    * shared with the batch query by construction
    * ([[PipelineQueries.sketchHllAgg]]). */
  def hllStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents")
      .select("doc_id", "source", "text")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-hll")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val items = stream.select(col("source"),
      explode(PipelineQueries.bigramsOf(col("text"))).as("gm"))
    val out = PipelineQueries.sketchHllAgg(items)
    Streams.drain(out, "hll", OutputMode.Complete())
      .orderBy("source")
  }

  /** Streaming KMV quantile sketch — the per-lang token-count quantile
    * report ([[PipelineQueries.sketchQuantilesAgg]]) as a stateful
    * streaming aggregation: per-lang state is the 64 smallest packed
    * (hash, value) longs no matter how much corpus flows through, and
    * the k-min SET is order/batch-split invariant (union + trim), so
    * draining the two-batch stream in Complete mode yields EXACTLY the
    * batch report — the oracle IS the batch `p_sketch_quantiles`
    * replay, with the aggregation code shared by construction. Closes
    * the sketch family's streaming residue: KMV-distinct, HLL, CMS, and
    * now the quantile sketch all have drained-stream twins. */
  def quantileStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents")
      .select("doc_id", "lang", "text")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-quantile")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = PipelineQueries.sketchQuantilesAgg(stream)
    Streams.drain(out, "quantile", OutputMode.Complete())
      .orderBy("lang")
  }

  /** Streaming URL-policy gate — [[PipelineQueries.urlPolicyQ]]'s
    * blocklist-join + rule projections over an arriving crawl: the
    * blocklist side is STATIC (re-broadcast per micro-batch, the
    * stream-static join shape), the rules are stateless projections,
    * so the drained stream equals the batch verdicts — the oracle IS
    * the batch replay. */
  def urlPolicyStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = PipelineQueries.urlPolicyCorpus(spark, sfDir)
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-urlpol")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val gated = PipelineQueries.urlPolicyVerdicts(spark, stream)
    Streams.drain(gated, "urlpol", OutputMode.Append())
      .orderBy("doc_id")
  }

  /** Streaming approximate profile — [[PipelineQueries.profileApproxQ]]
    * as a STATEFUL streaming aggregation: the state is FIVE 256-byte
    * HLL register sets + five exact null counters no matter how much
    * corpus flows through (the "profile a live crawl" posture).
    * Register max and counter sums are batch-split invariant, so the
    * drained two-batch stream equals the batch profile — the oracle IS
    * the batch replay. */
  def profileApproxStream(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = Tables.read(spark, sfDir, "documents")
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") % 2 === 0), corpus.where(col("doc_id") % 2 === 1),
      "stream-profile")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val out = PipelineQueries.profileApproxAgg(stream)
    Streams.drain(out, "profile", OutputMode.Complete())
      .orderBy("column_name")
  }

  /** Streaming exact dedup: the documents corpus (∪ shifted-id copies, so
    * real duplicates span micro-batches) flows through a streaming
    * groupBy(content fingerprint) keeping the minimum doc_id — stateful
    * keep-first dedup with state carried across batches. Complete mode on
    * a finite corpus → deterministic, SQL-expressible result. */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.read(spark, sfDir, "documents").select("doc_id", "text")
    val corpus = docs.unionByName(
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    // two micro-batches: duplicate pairs (id, id+100000) land in
    // different batches, so the dedup state genuinely crosses batches
    val dir = stageTwoBatches(spark, sfDir,
      corpus.where(col("doc_id") < 100000), corpus.where(col("doc_id") >= 100000),
      "stream-dedup")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val deduped = stream
      .groupBy(graft.functions.TextAnalysis.fingerprint64(col("text")).as("__fp"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).cast("bigint").as("n_copies"))
    Streams.drain(deduped, "dedup", OutputMode.Complete())
      .select("doc_id", "n_copies")
      .orderBy("doc_id")
  }

  /** Streaming NEAR-dup dedup: SimHash LSH with per-bucket state crossing
    * micro-batches. The corpus is the anchor-domination construction from
    * `p_dedup_simhash_keep` (constructed pairs hamming-0 by proof, cross
    * pairs ≥ 12 measured), streamed as two micro-batches with every
    * near-dup pair SPLIT ACROSS the batch boundary (bases first, mutated
    * copies second) — so a correct result requires bucket state to survive
    * batches. Candidate pairs stream out of `Streams.simhashPairsStream`;
    * the keep-first resolution over the finite pair set is batch (the same
    * `keepFirstFromPairs` rule), giving the identical mutation-map oracle
    * as the batch query. */
  def dedupNearDupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.read(spark, sfDir, "documents").select("doc_id", "text")
    val (bases, copies) = PipelineQueries.anchoredSimhashCorpus(d)
    val corpus = bases.unionByName(copies)
    val dir = stageTwoBatches(spark, sfDir, bases, copies, "stream-neardup")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val pairs = Streams.simhashPairsStream(stream, "doc_id", "text", maxHamming = 3)
    val pairsDf = Streams.drain(pairs.toDF(), "neardup", OutputMode.Append())
      .dropDuplicates("id_a", "id_b")
    graft.functions.Dedup.keepFirstFromPairs(corpus, "doc_id", pairsDf)
      .select("doc_id").orderBy("doc_id")
  }

  /** Streaming perceptual media dedup: PNG/JPEG/WAV rows arrive in two
    * micro-batches (originals, then re-encoded near-dup copies), each
    * row dHashes its DECODED payload in the stream projection, and the
    * shared per-bucket [[graft.streaming.Streams.hashPairsStream]] state
    * pairs new arrivals against everything seen — the cross-batch
    * version of [[PipelineQueries.dedupMedia]], checked against the
    * IDENTICAL batch oracle. */
  def dedupMediaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val (bases, copies) = PipelineQueries.mediaDedupInputs(spark, sfDir)
    val corpus = bases.unionByName(copies)
    val dir = stageTwoBatches(spark, sfDir, bases, copies, "stream-media")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val hashed = stream.select(col("media_id").as("doc_id"),
        graft.functions.Multimodal.imagePayloadDHash(col("content")).as("sh"))
      .where(col("sh").isNotNull)
    val pairs = Streams.hashPairsStream(hashed, maxHamming = 3)
    val pairsDf = Streams.drain(pairs.toDF(), "media", OutputMode.Append())
      .dropDuplicates("id_a", "id_b")
    graft.functions.Dedup.keepFirstFromPairs(corpus.select("media_id"), "media_id", pairsDf)
      .select("media_id").orderBy("media_id")
  }

  /** Stream-stream inner join with an event-time interval condition:
    * each view pairs with the same user's purchases in the following
    * hour. Watermarks on both sides bound the join state (views evict
    * once the watermark passes vts + 1h); batches arrive time-ordered, so
    * cross-batch matches are exercised while none are lost. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventDir(spark, sfDir)
    val schema = Tables.read(spark, sfDir, "events").schema
    // one file per trigger = 2 micro-batches: cross-batch join state is
    // exercised
    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val views = src().where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("vts"))
      .withWatermark("vts", "2 hours")
    val purchases = src().where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"), col("ts").as("pts"))
      .withWatermark("pts", "2 hours")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("pts") >= col("vts") && col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
      .select(col("view_id").cast("bigint"), col("purchase_id").cast("bigint"))
    Streams.drain(joined, "ssj", OutputMode.Append())
      .orderBy("view_id", "purchase_id")
  }

  /** Streaming IVF ingest routing — the build/serve split every
    * production vector index runs: the index is built BATCH on the
    * static corpus ([[graft.functions.Similarity.kmeansFit]], the same
    * deterministic build `p_ann_ivf`/`p_ann_ivfpq` replay), then
    * ARRIVING vectors are routed to their cell by one codegen'd
    * nearest-centroid projection — zero shuffle, zero state, so Append
    * mode needs no watermark and the drained two-batch stream equals
    * the batch assignment row-for-row. The oracle replays the k-means
    * build and the final assignment (the `a2` relation) in DuckDB. At
    * 100 TB this is the ingest path: route each arriving embedding,
    * append to the cell's shard, and the serving index stays
    * queryable without rebuilds. */
  def annAssignStream(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Similarity
    val e = Tables.read(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val (_, cids, matrix) = Similarity.kmeansFit("annAssignStream", e, "vec_id", "embedding", 16, 2, 16)
    val dir = stageTwoBatches(spark, sfDir,
      e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
      "stream-annassign")
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val routed = Similarity.assignCells(stream, "vec_id", "embedding", cids, matrix)
    Streams.drain(routed, "annassign", OutputMode.Append())
      .select("vec_id", "cell").orderBy("vec_id")
  }

  private val sessionizeOracle =
    """WITH fl AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS nf
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(nf) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM fl)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) AS session_end,
      |  cast(count(*) as bigint) AS n_events,
      |  cast(sum(cast(round(value * 100) as bigint)) as bigint) AS value_cents
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** The oracle of the batch query `name`, read from [[PipelineQueries.all]]
    * rather than [[SparkEntry]], whose initialisation forces this object. */
  private def batchOracle(name: String): String =
    PipelineQueries.all.find(_.name == name).flatMap(_.oracle)
      .getOrElse(throw new NoSuchElementException(s"no batch oracle for $name"))

  val all: Seq[Query] = Seq(
    Query("s_window_agg", streamWindowAgg, Some(
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  cast(count(*) as bigint) AS n,
        |  cast(sum(cast(round(value * 100) as bigint)) as bigint) AS value_cents
        |FROM events
        |GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY window_start, event_type""".stripMargin)),
    Query("s_sessionize_batch", sessionizeBatch, Some(sessionizeOracle)),
    Query("s_sessionize_stream", sessionizeStream, Some(sessionizeOracle)),
    // the IDENTICAL batch replay — streaming must converge to the batch
    // keep-set on the same corpus
    Query("s_dedup_media_stream", dedupMediaStream, Some(PipelineQueries.perceptualDedupOracle("1 = 1"))),
    // the batch k-means build + final assignment: the stream routes each
    // arriving vector against the SAME driver-resident index, so the
    // drained result must equal the batch a2 relation cell-for-cell
    Query("s_ann_assign_stream", annAssignStream, Some(
      s"""${PipelineQueries.kmeansWithSql(k = 16, rounds = 2, blockSize = 16)}
         |SELECT vec_id, cast(cid as int) AS cell FROM a2 ORDER BY vec_id""".stripMargin)),
    Query("s_stream_stream_join", streamStreamJoin, Some(
      """WITH v AS (SELECT event_id AS view_id, user_id, ts AS vts FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase')
        |SELECT v.view_id, p.purchase_id
        |FROM v JOIN p ON v.user_id = p.user_id AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR
        |ORDER BY view_id, purchase_id""".stripMargin)),

    // identical mutation-map oracle as p_dedup_simhash_keep: the streaming
    // LSH must find exactly the constructed pairs across the batch split
    Query("s_dedup_neardup_stream", dedupNearDupStream, Some(
      """SELECT CASE WHEN doc_id % 3 = 0 AND doc_id % 5 = 0
        |            THEN doc_id - 100000 ELSE doc_id END AS doc_id
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // the batch quality-gate oracle, projected to its pass set — the
    // stateless stream must reproduce it exactly
    Query("s_quality_stream", qualityStream, Some(
      s"""SELECT doc_id FROM (
         |${batchOracle("p_quality_filter")}
         |) WHERE pass ORDER BY doc_id""".stripMargin)),

    // the batch classifier oracle verbatim — the fused streaming scorer
    // must reproduce the relational scorer row-for-row
    Query("s_classifier_stream", classifierStream, Some(batchOracle("p_quality_classifier"))),

    // the batch PII-scrub oracle verbatim — stateless stream == batch
    Query("s_pii_stream", piiScrubStream, Some(batchOracle("p_pii_scrub"))),

    // stateless projection → drained stream equals batch exactly
    Query("s_fix_mojibake_stream", fixMojibakeStream, Some(batchOracle("p_fix_mojibake"))),

    // register-max + counter sums are batch-split invariant → the
    // drained stream equals the batch profile, same oracle
    Query("s_profile_stream", profileApproxStream, Some(batchOracle("p_profile_approx"))),

    // stream-static blocklist join + stateless rules → equals batch
    Query("s_url_policy_stream", urlPolicyStream, Some(batchOracle("p_url_policy"))),

    // the batch sketch oracle verbatim — the k-min SET is batch-split
    // invariant, so the drained stream must equal the batch sketch
    // cell-for-cell (max_kmin and the estimator double included)
    Query("s_sketch_stream", sketchStream, Some(batchOracle("p_sketch_vocab"))),
    Query("s_hll_stream", hllStream, Some(batchOracle("p_sketch_hll"))),
    // k-min (hash, value) packs are batch-split invariant → the drained
    // stream equals the batch quantile report, same oracle
    Query("s_quantile_stream", quantileStream, Some(batchOracle("p_sketch_quantiles"))),
    Query("s_asof_stream", asofStream, Some(batchOracle("p_asof_join"))),
    // the drained streaming counter table == the batch CMS counters: the
    // oracle replays the row:item md5 buckets and counts over ALL gram
    // occurrences (multiplicity kept), exactly the p_sketch_cms `cm` CTE
    Query("s_cms_stream", cmsStream, Some(
      s"""WITH ${PipelineQueries.sketchGramsSql},
        |rws AS (SELECT unnest([0, 1, 2, 3]) AS r),
        |hb AS (SELECT rws.r,
        |  ${PipelineQueries.hex15FoldSql("CAST(rws.r AS VARCHAR) || ':' || sgrams.gm")} % 512 AS bucket
        |  FROM sgrams CROSS JOIN rws),
        |cm AS (SELECT r, bucket, count(*) AS c FROM hb GROUP BY r, bucket)
        |SELECT CAST(r AS INT) AS cms_row, CAST(bucket AS BIGINT) AS cms_bucket,
        |  CAST(c AS BIGINT) AS cnt
        |FROM cm ORDER BY cms_row, cms_bucket""".stripMargin)),

    Query("s_dedup_stream", dedupStream, Some(
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text FROM documents)
        |SELECT min(doc_id) AS doc_id, cast(count(*) as bigint) AS n_copies
        |FROM corpus
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |ORDER BY doc_id""".stripMargin)),

    // stream-static anti-join == the batch text-equality anti-join
    Query("s_decontaminate_stream", decontaminateStream, Some(
      """SELECT d.doc_id FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM documents r
        |                  WHERE r.doc_id % 7 = 0 AND r.text = d.text)
        |ORDER BY doc_id""".stripMargin)),
  )
}
