package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (no reference equivalent — the reference is
  * batch-only, SURVEY §2.5; this is the Spark-native extension the builder
  * prompt asks for): file/memory sources → watermarked windowed
  * aggregations → sinks, plus stateful sessionization both as a streaming
  * `flatMapGroupsWithState` operator and as an equivalent batch
  * gap-and-island plan (each validates the other).
  */
object Streams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, value_cents: Long)

  /** Internal per-user state buffer for [[sessionizeStream]]. */
  case class SessionState(times: Array[Long], cents: Array[Long])

  // -----------------------------------------------------------------
  // windowed aggregation
  // -----------------------------------------------------------------

  /** Tumbling-window counts/sums per event type with a watermark. Works
    * identically on a batch or streaming `events` input — the Spark
    * unified-API property the engine leans on for testing. */
  def windowedEventCounts(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("bigint")).cast("bigint").as("value_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Drain a streaming DataFrame to completion into a memory sink and
    * return its rows as a local relation. `feeds` add input between
    * rounds: after the first drain, each feed runs and the stream drains
    * again (a sentinel file that advances the watermark, say).
    *
    * The stream runs with its own session settings, restored afterwards
    * even when it throws:
    *  - at most min(8, cores) shuffle partitions, so every stateful
    *    stage holds that many state stores and runs in one wave (each
    *    store pays a fixed cost per batch);
    *  - no checksum files for the checkpoint: it is a temporary one that
    *    is never read back.
    * The drained table is collected (a local scan, no job), handed back
    * as a `LocalRelation` in one partition, and the sink's temp view is
    * dropped. One partition is one task for what follows: a final
    * `orderBy` sorts in place, where over several partitions Spark would
    * range-partition the few rows (a sampling job and a shuffle). */
  def drain(streamed: DataFrame, label: String, outputMode: OutputMode,
      feeds: Seq[() => Unit] = Nil): DataFrame = {
    val spark = streamed.sparkSession
    val conf = spark.conf
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> math.min(8, spark.sparkContext.defaultParallelism).toString,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    // what was set, not getOption's defaults: an unset key is restored unset
    val prev = settings.map { case (k, _) => k -> conf.getAll.get(k) }
    val name = s"graft_stream_${label}_" + java.util.UUID.randomUUID().toString.take(8)
    try {
      settings.foreach { case (k, v) => conf.set(k, v) }
      val q = streamed.writeStream.format("memory").queryName(name).outputMode(outputMode).start()
      try {
        q.processAllAvailable()
        feeds.foreach { feed => feed(); q.processAllAvailable() }
      } finally q.stop()
      val table = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(table.collect(): _*), table.schema).coalesce(1)
    } finally {
      spark.catalog.dropTempView(name)
      prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  // -----------------------------------------------------------------
  // sessionization
  // -----------------------------------------------------------------

  /** Batch sessionization (gap-and-island): a session breaks when the gap
    * to the previous event of the same user exceeds `gapMinutes`. One
    * shuffle on user_id; windows sorted per user. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val gapMs = gapMinutes * 60000L
    val flagged = events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull
        .or(unix_millis(col("ts")) - unix_millis(col("__prev")) > gapMs), 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy("user_id", "__sid")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).cast("bigint").as("value_cents"))
      .drop("__sid")
  }

  /** Streaming sessionization with explicit state: buffers events per user,
    * closes sessions when the event-time gap is exceeded; open sessions are
    * flushed on event-time timeout once the watermark passes. Equivalent to
    * [[sessionizeBatch]] on the same (finite) input — asserted in tests. */
  def sessionizeStream(
      events: Dataset[Event],
      gapMinutes: Int,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    implicit val sessEnc = Encoders.product[SessionOut]
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val keyEnc = Encoders.scalaLong
    val gapUs = gapMinutes * 60000000L

    // state works in epoch MICROseconds: Timestamp.getTime is ms-truncated
    // and would silently round session bounds to the millisecond
    def tsToUs(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    // Same rounding as the batch path's Spark round(): HALF_UP away from
    // zero — math.round (half toward +Inf) diverges on negative values.
    def toCents(v: Double): Long = java.math.BigDecimal.valueOf(v * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    def usToTs(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def toSessions(userId: Long, evts: Seq[(Long, Long)]): Seq[SessionOut] = {
      if (evts.isEmpty) return Nil
      val sorted = evts.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var start = sorted.head._1
      var end = sorted.head._1
      var n = 0L
      var cents = 0L
      sorted.foreach { case (t, c) =>
        if (n > 0 && t - end > gapUs) {
          out += SessionOut(userId, usToTs(start), usToTs(end), n, cents)
          start = t; n = 0L; cents = 0L
        }
        end = t; n += 1; cents += c
      }
      out += SessionOut(userId, usToTs(start), usToTs(end), n, cents)
      out.toSeq
    }

    def update(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      val buffered = state.getOption
        .map(st => st.times.zip(st.cents).toSeq).getOrElse(Seq.empty)
      val incoming = rows.map(e => (tsToUs(e.ts), toCents(e.value))).toSeq
      val all = buffered ++ incoming
      if (state.hasTimedOut || incoming.isEmpty) {
        // watermark passed: flush every buffered session
        state.remove()
        toSessions(userId, all).iterator
      } else {
        val sessions = toSessions(userId, all)
        // sessions closed by a later gap are final; the last stays open
        val (closed, open) = (sessions.init, sessions.last)
        val openEvents = all.filter(_._1 >= tsToUs(open.session_start))
        state.update(SessionState(openEvents.map(_._1).toArray, openEvents.map(_._2).toArray))
        // timeout must sit above the current watermark
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
          math.max((tsToUs(open.session_end) + gapUs) / 1000L, wm + 1))
        closed.iterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  // -----------------------------------------------------------------
  // streaming near-dup dedup (SimHash LSH)
  // -----------------------------------------------------------------

  case class NearDupPair(id_a: Long, id_b: Long)

  /** Per-bucket LSH state: every (id, simhash) seen in the bucket so far. */
  case class LshBucketState(ids: Array[Long], sigs: Array[Long])

  /** Streaming SimHash near-dup candidate pairs: the streaming counterpart
    * of [[graft.functions.Dedup.simHashNearDupPairs]]. Each doc gets a
    * codegen'd 64-bit SimHash (narrow projection — safe in streaming),
    * explodes into the 4 16-bit band buckets (exact for hamming ≤ 3 by
    * pigeonhole), and each bucket's state accumulates the (id, simhash)
    * pairs seen across micro-batches; an arriving doc emits a pair for
    * every stored neighbor within `maxHamming`. Pairs may be emitted once
    * per shared band — dedupe downstream. State is bounded by
    * `maxBucketSize` per bucket (beyond it, new arrivals in that bucket
    * stop accumulating — the batch operator's oversized-bucket drop,
    * expressed incrementally). No watermark/timeout: dedup state is
    * corpus-lifetime by design, like the batch keep-first rule. */
  def simhashPairsStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): Dataset[NearDupPair] = {
    val sh = docs.select(col(idCol).as("doc_id"),
      graft.functions.Dedup.simHash64(col(textCol)).as("sh"))
    hashPairsStream(sh, maxHamming, maxBucketSize)
  }

  /** Cross-batch near-dup pairs among precomputed 64-bit hashes — the
    * streaming counterpart of
    * [[graft.functions.Dedup.hammingPairsFromHashes]], shared by SimHash
    * text dedup and perceptual media dedup. Input: (`doc_id`, `sh`);
    * per-bucket [[GroupState]] holds ids+signatures seen so far. */
  def hashPairsStream(
      sh: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 10000): Dataset[NearDupPair] = {
    implicit val pairEnc = Encoders.product[NearDupPair]
    implicit val stateEnc = Encoders.product[LshBucketState]
    implicit val rowEnc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val keyEnc = Encoders.scalaLong
    val chunked = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map { i =>
        shiftright(col("sh"), i * 16).bitwiseAND(lit(0xffffL)) + lit(i * 65536L)
      }: _*)).as("bucket"))

    def update(bucket: Long, rows: Iterator[(Long, Long, Long)],
        state: GroupState[LshBucketState]): Iterator[NearDupPair] = {
      val st = state.getOption.getOrElse(LshBucketState(Array.empty, Array.empty))
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val sigs = scala.collection.mutable.ArrayBuffer.empty[Long]
      ids ++= st.ids; sigs ++= st.sigs
      val out = scala.collection.mutable.ArrayBuffer.empty[NearDupPair]
      // ascending id: deterministic emission within a batch
      rows.toSeq.sortBy(_._1).foreach { case (id, sig, _) =>
        if (ids.length < maxBucketSize) {
          var i = 0
          while (i < ids.length) {
            if (ids(i) != id && java.lang.Long.bitCount(sigs(i) ^ sig) <= maxHamming)
              out += NearDupPair(math.min(ids(i), id), math.max(ids(i), id))
            i += 1
          }
          ids += id
          sigs += sig
        }
      }
      state.update(LshBucketState(ids.toArray, sigs.toArray))
      out.iterator
    }

    chunked.as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Read a directory of parquet event files as a stream (the file-source
    * entry point a production pipeline would tail). */
  def eventFileStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  // -----------------------------------------------------------------
  // streaming as-of enrichment
  // -----------------------------------------------------------------

  /** Tagged input row for [[asofBackwardStream]]: `side` 0 = right
    * (reference/dimension row carrying `payload` at time `ts`), 1 = left
    * (probe row identified by `left_id`, enriched at time `ts`). */
  case class AsOfIn(key: Long, ts: Timestamp, side: Int, left_id: Long,
      payload: Double)

  case class AsOfOut(left_id: Long, key: Long, matched: Option[Double])

  /** Per-key right-side history: timestamps (epoch µs) sorted ascending,
    * values aligned. */
  case class AsOfHistory(rts: Array[Long], vals: Array[Double])

  /** Streaming backward as-of join — the incremental counterpart of
    * [[graft.ops.AsOfJoin.backward]]: per-key state holds the right-side
    * history seen SO FAR (the streaming point-in-time-enrichment
    * semantic: a probe joins against whatever reference data has
    * arrived), each left row binary-searches the most recent right ts ≤
    * its own and emits (left_id, key, matched payload) — None when no
    * prior right exists, matching the batch LEFT as-of. Within a
    * micro-batch, rights apply before lefts (so same-batch reference
    * rows are visible, mirroring the batch operator's ≤-inclusive tie
    * rule) and lefts emit in ascending left_id for determinism; among
    * equal right timestamps the larger payload wins (documented tie
    * rule — the batch operator requires unique (key, rts) for a
    * well-defined answer anyway).
    *
    * Scale shape: state is the per-key right history — bounded by the
    * reference relation's per-key cardinality, NOT the probe volume (a
    * production deployment would prune it with an event-time TTL; kept
    * corpus-lifetime here like the dedup states). No shuffle beyond the
    * one keyed exchange every stateful operator pays. */
  def asofBackwardStream(rows: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    implicit val outEnc = Encoders.product[AsOfOut]
    implicit val stateEnc = Encoders.product[AsOfHistory]
    implicit val keyEnc = Encoders.scalaLong

    def tsToUs(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000

    def update(key: Long, it: Iterator[AsOfIn],
        state: GroupState[AsOfHistory]): Iterator[AsOfOut] = {
      val batch = it.toSeq
      val (rights, lefts) = batch.partition(_.side == 0)
      val st = state.getOption.getOrElse(AsOfHistory(Array.empty, Array.empty))
      val merged = (st.rts.zip(st.vals) ++
        rights.map(r => (tsToUs(r.ts), r.payload))).sortBy(p => (p._1, p._2))
      val rts = merged.map(_._1).toArray
      val vals = merged.map(_._2).toArray
      if (rights.nonEmpty) state.update(AsOfHistory(rts, vals))
      lefts.sortBy(_.left_id).map { l =>
        val t = tsToUs(l.ts)
        // first index with rts > t; the match is the element before it
        var lo = 0; var hi = rts.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (rts(mid) <= t) lo = mid + 1 else hi = mid
        }
        AsOfOut(l.left_id, key, if (lo == 0) None else Some(vals(lo - 1)))
      }.iterator
    }

    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }
}
