package graft

import java.sql.Timestamp

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class StreamingSpec extends GraftSuite {
  import spark.implicits._

  private def ts(minute: Int): Timestamp = new Timestamp(1700000000000L + minute * 60000L)

  private val batch1 = Seq(
    Event(1, ts(0), 1L, "view", 1.00),
    Event(2, ts(1), 1L, "click", 2.00),
    Event(3, ts(2), 2L, "view", 3.00))
  private val batch2 = Seq(
    Event(4, ts(45), 1L, "view", 4.00), // new session for user 1 (gap > 30m)
    Event(5, ts(46), 2L, "click", 5.00),
    Event(6, ts(300), 3L, "view", 6.00)) // far future: advances watermark

  test("windowed aggregation: streaming result equals batch result") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(batch1 ++ batch2: _*)
    val streamed = Streams.drain(
      Streams.windowedEventCounts(mem.toDF(), "1 hour", "2 hours"),
      "win_test", OutputMode.Complete())
    val batch = Streams.windowedEventCounts((batch1 ++ batch2).toDF(), "1 hour", "2 hours")
    val s = streamed.orderBy("window_start", "event_type").collect().toSeq
    val b = batch.orderBy("window_start", "event_type").collect().toSeq
    assert(s == b)
    assert(s.nonEmpty)
  }

  test("batch sessionization: gap-and-island semantics") {
    val sessions = Streams.sessionizeBatch((batch1 ++ batch2).toDF(), gapMinutes = 30)
      .orderBy("user_id", "session_start").collect()
    // user1: [0,1] then [45]; user2: [2] then [46]; user3: [300]
    assert(sessions.length == 5)
    val u1 = sessions.filter(_.getLong(0) == 1L)
    assert(u1(0).getAs[Long]("n_events") == 2 && u1(0).getAs[Long]("value_cents") == 300L)
    assert(u1(1).getAs[Long]("n_events") == 1 && u1(1).getAs[Long]("value_cents") == 400L)
  }

  test("streaming sessionization with state + event-time timeout matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30).toDF()
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      // one more empty-ish batch so timed-out state flushes
      mem.addData(Event(7, ts(600), 4L, "view", 0.0))
      q.processAllAvailable()
      mem.addData(Event(8, ts(900), 4L, "view", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_test")
      .where(col("user_id") <= 3)
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = Streams.sessionizeBatch((batch1 ++ batch2).toDF(), gapMinutes = 30)
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))) ==
      batch.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))))
  }

  test("stateful sessionization runs on the RocksDB state store (large-state path)") {
    // the default HDFS-backed store keeps all state on-heap — at 100 TB of
    // keyed state that OOMs; RocksDB spills to local disk. Same semantics,
    // different provider: the streaming result must still equal batch.
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30).toDF()
        .writeStream.format("memory").queryName("sess_rocks")
        .outputMode(OutputMode.Append()).start()
      try {
        mem.addData(batch1: _*)
        q.processAllAvailable()
        mem.addData(batch2: _*)
        q.processAllAvailable()
        mem.addData(Event(7, ts(600), 4L, "view", 0.0))
        q.processAllAvailable()
        mem.addData(Event(8, ts(900), 4L, "view", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table("sess_rocks")
        .where(col("user_id") <= 3)
        .orderBy("user_id", "session_start").collect().toSeq
      val batch = Streams.sessionizeBatch((batch1 ++ batch2).toDF(), gapMinutes = 30)
        .orderBy("user_id", "session_start").collect().toSeq
      assert(streamed.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))) ==
        batch.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3), r.getLong(4))))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming simhash near-dup pairs == batch banding, state crossing batches") {
    implicit val sqlCtx = spark.sqlContext
    // constructed corpus: 2/102 identical (hamming 0), 3 near 1 (small
    // hamming), 4/5 unrelated; the dup partners arrive in a LATER batch
    val b1 = Seq(
      (1L, "spark makes distributed data processing simple and fast for large analytics"),
      (4L, "completely different content about cooking pasta with tomatoes and basil"),
      (5L, "the quick brown fox jumps over the lazy dog near the river at dawn"))
    val b2 = Seq(
      (102L, "spark makes distributed data processing simple and fast for large analytics"),
      (103L, "spark makes distributed data processing simple and fast for large analytics extra"))
    val mem = MemoryStream[(Long, String)]
    val pairs = Streams.simhashPairsStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", maxHamming = 8)
    val q = pairs.toDF().writeStream.format("memory").queryName("neardup_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_test")
      .dropDuplicates("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val batch = graft.functions.Dedup.simHashNearDupPairs(
      (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.contains((1L, 102L)), "cross-batch exact pair must be found")
    assert(streamed.exists { case (a, b) => a == 1L && b == 103L },
      "cross-batch near pair must be found")
  }

  test("streaming as-of join == batch as-of, right history crossing batches") {
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    // rights (side 0): user 1 has history at minutes 5 and 20; user 2 none
    val rights = Seq(
      Streams.AsOfIn(1L, ts(5), 0, -1L, 10.0),
      Streams.AsOfIn(1L, ts(20), 0, -1L, 20.0))
    // lefts (side 1): probes straddle the history; left 103/104 arrive in
    // a LATER batch and must still see state built in batch 1
    val leftsB1 = Seq(
      Streams.AsOfIn(1L, ts(4), 1, 101L, 0.0),  // before any right -> None
      Streams.AsOfIn(1L, ts(5), 1, 102L, 0.0))  // tie: <= inclusive -> 10.0
    val leftsB2 = Seq(
      Streams.AsOfIn(1L, ts(12), 1, 103L, 0.0), // between -> 10.0
      Streams.AsOfIn(1L, ts(30), 1, 104L, 0.0), // after both -> 20.0
      Streams.AsOfIn(2L, ts(30), 1, 105L, 0.0)) // keyless user -> None
    val mem = MemoryStream[Streams.AsOfIn]
    val q = Streams.asofBackwardStream(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("asof_test")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rights ++ leftsB1: _*); q.processAllAvailable()
      mem.addData(leftsB2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("asof_test")
      .select("left_id", "matched").as[(Long, Option[Double])]
      .collect().toMap
    assert(streamed == Map(
      101L -> None, 102L -> Some(10.0), 103L -> Some(10.0),
      104L -> Some(20.0), 105L -> None))
    // and the batch operator agrees on the same relation
    val l = (leftsB1 ++ leftsB2).map(a => (a.key, a.ts, a.left_id))
      .toDF("key", "ts", "left_id")
    val r = rights.map(a => (a.key, a.ts, a.payload)).toDF("key", "rts", "pay")
    val batch = graft.ops.AsOfJoin.backward(l, r, Seq("key"), "ts", "rts")
      .select("left_id", "pay").as[(Long, Option[Double])].collect().toMap
    assert(batch == streamed.map { case (k, v) => k -> v })
  }

  test("narrow text operators compose unchanged over a document stream") {
    // stripHtml / tokenCount / chunkByTokens are stateless projections, so
    // the same library calls run on a readStream frame with no adaptation
    // and produce the batch result.
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "<p>alpha beta</p> gamma"),
      (2L, "<script>x</script>one two three four five")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "<p>alpha beta</p> gamma"),
      (2L, "<script>x</script>one two three four five"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      val clean = df.toDF("doc_id", "text")
        .withColumn("text", graft.functions.TextAnalysis.stripHtml($"text"))
      graft.functions.TextAnalysis.chunkByTokens(clean, "doc_id", "text",
        chunkTokens = 2, overlap = 0)
    }
    val streamed = Streams.drain(pipeline(mem.toDF()),
      "narrow_text_stream", OutputMode.Append())
      .orderBy("doc_id", "chunk_id").collect().toSeq
    val batch = pipeline(docs).orderBy("doc_id", "chunk_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 5) // 3 tokens -> 2 chunks; 5 tokens -> 3 chunks
  }

  test("file-source stream over parquet events runs end-to-end") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    (batch1 ++ batch2).toDF().write.mode("overwrite").parquet(s"$dir/events")
    val streamed = Streams.drain(
      Streams.windowedEventCounts(Streams.eventFileStream(spark, s"$dir/events")),
      "file_stream_test", OutputMode.Complete())
    assert(streamed.count() > 0)
  }

  /** A windowed aggregation over a parquet file stream, drained through
    * `Streams.drain` into a fresh memory table each call. */
  private def windowedFileStream(dir: String): Seq[org.apache.spark.sql.Row] =
    Streams.drain(
      Streams.windowedEventCounts(Streams.eventFileStream(spark, dir), "1 hour", "2 hours"),
      "win_file", OutputMode.Complete())
      .orderBy("window_start", "event_type").collect().toSeq

  private def eventsDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString + "/events"
    (batch1 ++ batch2).toDF().write.parquet(dir)
    dir
  }

  test("a repeated file stream compiles no generated class") {
    // the generated sources are the same on every run; a run that compiles
    // them again has looked them up under a new classloader
    import org.apache.spark.metrics.source.CodegenMetrics
    val dir = eventsDir("graft_stream_codegen")
    val first = windowedFileStream(dir)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = windowedFileStream(dir)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0 == 0)
    assert(second == first)
    assert(first.nonEmpty)
  }

  test("stream runs add no isolated session state to the executor") {
    import org.apache.spark.sql.graftbridge.TestExecutorState
    val dir = eventsDir("graft_stream_sessions")
    windowedFileStream(dir)
    val before = TestExecutorState.isolatedSessionIds
    windowedFileStream(dir)
    windowedFileStream(dir)
    val after = TestExecutorState.isolatedSessionIds
    // no new id, so the map (and its classloaders) does not grow, even
    // where the executor's cache evicts an old state as a new one arrives
    assert((after -- before).isEmpty, s"new isolated sessions: ${after -- before}")
  }

  test("a drained frame is one partition, so its orderBy sorts with no exchange") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(batch1 ++ batch2: _*)
    val drained = Streams.drain(
      Streams.windowedEventCounts(mem.toDF(), "1 hour", "2 hours"), "sorted", OutputMode.Complete())
    assert(drained.rdd.getNumPartitions == 1)
    val sorted = drained.orderBy(col("window_start").desc, col("event_type"))
    val got = sorted.collect().toSeq
    val plan = sorted.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    val want = drained.collect().toSeq
      .sortBy(r => (-r.getTimestamp(0).getTime, r.getString(1)))
    assert(got.nonEmpty && got == want)
  }

  test("drain runs min(8, cores) state stores, restores its settings and drops its sink view") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    implicit val sqlCtx = spark.sqlContext
    val conf = spark.conf
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    val saved = keys.map(k => k -> conf.getOption(k))
    val stores = scala.collection.mutable.ArrayBuffer[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        stores.synchronized(stores ++= e.progress.stateOperators.map(_.numShufflePartitions))
    }
    def sinkViews: Seq[String] =
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_drain_"))
    spark.streams.addListener(listener)
    try {
      conf.set(keys(0), "32")
      conf.unset(keys(1))
      val mem = MemoryStream[Event]
      mem.addData(batch1 ++ batch2: _*)
      val drained = Streams.drain(
        Streams.windowedEventCounts(mem.toDF(), "1 hour", "2 hours"), "drain", OutputMode.Complete())
      assert(drained.count() > 0)
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)
      val expected = math.min(8, spark.sparkContext.defaultParallelism).toLong
      stores.synchronized(assert(stores.nonEmpty && stores.forall(_ == expected), stores))
      assert(conf.get(keys(0)) == "32")
      assert(!conf.getAll.contains(keys(1)))
      assert(sinkViews.isEmpty, sinkViews)

      // a stream that throws restores the same settings and drops its view
      conf.set(keys(1), "true")
      val failing = MemoryStream[Event]
      failing.addData(batch1: _*)
      intercept[Exception] {
        Streams.drain(failing.toDF().select(
          when(col("event_id") > 0, raise_error(lit("boom"))).as("event_id")), "drain", OutputMode.Append())
      }
      assert(conf.get(keys(0)) == "32")
      assert(conf.get(keys(1)) == "true")
      assert(sinkViews.isEmpty, sinkViews)
    } finally {
      spark.streams.removeListener(listener)
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }
}
