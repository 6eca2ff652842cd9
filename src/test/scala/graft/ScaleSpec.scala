package graft

import graft.functions.GraftFunctions
import graft.ops.Scale
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

class ScaleSpec extends GraftSuite {
  import spark.implicits._

  test("saltedJoin equals plain join on skewed data") {
    // 90% of left rows share one key — the classic skew shape
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i)).toDF("k", "v")
    val right = (1 to 2000).map(i => (i.toLong, s"r$i")).toDF("k", "s")
    val plain = left.join(right, Seq("k")).select("k", "v", "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val salted = Scale.saltedJoin(left, right, Seq("k"), saltFactor = 8)
      .select("k", "v", "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("scale corpus at m = 3: salted ids, suffixed tokens, rotated vectors, one writer") {
    val docs = Seq((5L, "the cat  sat", "en", "web", 12L), (9L, "a\tb c", "fr", "wiki", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dim = 8
    val vecs = Seq(1L, 2L).map(id =>
      (id, Seq.tabulate(dim)(j => ((id * 7 + j * 3) % 11 - 5).toFloat / 3), id.toInt))
    val embs = vecs.toDF("vec_id", "embedding", "label")

    val sd = Scale.scaleDocuments(docs, 3).as[(Long, String, String, String, Long)].collect()
    assert(sd.length == 6)
    assert(sd.map(_._1).distinct.length == 6)
    val base = docs.as[(Long, String, String, String, Long)].collect()
    assert(sd.filter(_._1 < 10000000L).sortBy(_._1).toSeq == base.sortBy(_._1).toSeq)
    for (i <- 1 to 2; b <- base) {
      val r = sd.find(_._1 == b._1 + i * 10000000L).get
      val tokens = r._2.split("\\s+").toSeq
      assert(tokens.forall(_.endsWith(s"_$i")), r)
      assert(tokens.map(_.stripSuffix(s"_$i")) == b._2.split("\\s+").toSeq)
      assert((r._3, r._4, r._5) == (b._3, b._4, b._5))
    }

    val se = Scale.scaleEmbeddings(embs, 3, dim).as[(Long, Seq[Float], Int)].collect()
    assert(se.length == 6)
    assert(se.map(_._1).distinct.length == 6)
    def norm(v: Seq[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    for ((id, v, label) <- vecs; i <- 0 to 2) {
      val r = se.find(_._1 == id + i * 10000000L).get
      assert(r._3 == label)
      assert(math.abs(norm(r._2) - norm(v)) <= 1e-9 * norm(v), r)
      assert(r._2.sorted == v.sorted, r)
      if (i == 0) assert(r._2 == v)
    }

    val sfDir = graft.io.Fixtures.scratch("graft-scalespec-")
    docs.write.parquet(s"$sfDir/documents.parquet")
    embs.write.parquet(s"$sfDir/embeddings.parquet")
    val (dir, rows) = Scale.writeScaledCorpus(spark, sfDir, 3)
    assert(rows == 6)
    assert(spark.read.parquet(s"$dir/documents.parquet")
      .as[(Long, String, String, String, Long)].collect().sortBy(_._1).toSeq == sd.sortBy(_._1).toSeq)
    assert(spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id").as[Long]
      .collect().sorted.toSeq == se.map(_._1).sorted.toSeq)
  }

  test("bucketed tables join without a shuffle") {
    val a = (1 to 1000).map(i => (i.toLong, i * 2)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, i * 3)).toDF("k", "vb")
    Scale.writeBucketed(a, "bucketed_a", Seq("k"), 4, sortCols = Seq("k"))
    Scale.writeBucketed(b, "bucketed_b", Seq("k"), 4, sortCols = Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bucketed_a").join(spark.table("bucketed_b"), Seq("k"))
      val plan = joined.queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("Exchange"), "bucketed join must not shuffle:\n" + plan)
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned table writes prune partitions on filter") {
    import graft.core.TableRef
    val df = (1 to 1000).map(i => (i.toLong, s"2024-0${i % 3 + 1}", i * 1.0))
      .toDF("id", "month", "v")
    g.writeTablePartitioned(df, TableRef("part_tbl"), Seq("month"))
    val q = spark.table("part_tbl").where(col("month") === "2024-02")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters: [isnotnull(month"), plan)
    assert(q.count() == df.where(col("month") === "2024-02").count())
  }

  test("overwritePartitions refuses an unpartitioned table") {
    import graft.core.{IfExists, TableRef}
    val df = (1 to 10).map(i => (i.toLong, i * 1.0)).toDF("id", "v")
    g.writeTable(df, TableRef("flat_tbl"), IfExists.Replace)
    val ex = intercept[IllegalArgumentException] {
      g.overwritePartitions(df, TableRef("flat_tbl"))
    }
    assert(ex.getMessage.contains("no partition columns"))
    // the table is untouched by the refused call
    assert(spark.table("flat_tbl").count() == 10)
  }

  test("SQL-registered graft functions work in spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "hello world spark", Seq(3.0f, 4.0f))).toDF("id", "t", "v")
      .createOrReplaceTempView("fn_test")
    val row = spark.sql(
      """SELECT graft_fingerprint64(t) AS fp, graft_token_count(t) AS tc,
        |  graft_lang_id(t) AS lang, graft_l2norm(v) AS n,
        |  graft_cosine(v, v) AS c
        |FROM fn_test""".stripMargin).collect()(0)
    assert(row.getAs[Long]("fp") != 0L)
    assert(row.getAs[Int]("tc") == 3)
    assert(row.getAs[Double]("n") == 5.0)
    assert(math.abs(row.getAs[Double]("c") - 1.0) < 1e-9)
    // matches the Column API exactly
    val viaColumn = Seq("hello world spark").toDF("t")
      .select(graft.functions.TextAnalysis.fingerprint64($"t")).as[Long].collect()(0)
    assert(row.getAs[Long]("fp") == viaColumn)
  }

  test("SQL-registered int8 quantization round-trips in spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((1L, Seq(0.0f, 1.0f, 0.5f))).toDF("id", "v").createOrReplaceTempView("fn_qz")
    val row = spark.sql(
      """SELECT graft_quantize_int8(v).codes AS codes,
        |  graft_dequantize_int8(graft_quantize_int8(v)) AS deq
        |FROM fn_qz""".stripMargin).collect()(0)
    assert(row.getSeq[Int](0) == Seq(0, 255, 128))
    val deq = row.getSeq[Double](1)
    assert(deq.head == 0.0 && deq(1) == 1.0 && math.abs(deq(2) - 0.5) <= 0.5 / 255 + 1e-12)
  }

  test("SQL-registered web/text cleaners work in spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "<p>hi</p> see https://a.bad.com/x now"))
      .toDF("id", "t").createOrReplaceTempView("fn_web")
    val row = spark.sql(
      """SELECT graft_strip_html(t) AS clean,
        |  graft_url_domain(graft_extract_urls(t)[0]) AS dom
        |FROM fn_web""".stripMargin).collect()(0)
    assert(row.getAs[String]("clean") == "hi see https://a.bad.com/x now")
    assert(row.getAs[String]("dom") == "a.bad.com")
  }

  test("SQL-registered quality pass and line dedup work in spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "nav\nbody text\nnav")).toDF("id", "t").createOrReplaceTempView("fn_q")
    val row = spark.sql(
      """SELECT graft_quality_pass(t) AS p, graft_dedup_lines(t) AS d
        |FROM fn_q""".stripMargin).collect()(0)
    assert(!row.getAs[Boolean]("p")) // 3 tokens < default minTokens=50
    assert(row.getAs[String]("d") == "nav\nbody text")
  }

  test("SQL-registered quality score matches the Scala fused scorer") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "The committee published its findings after a review."),
        (2L, "click here to unlock your exclusive bonus now"))
      .toDF("id", "t").createOrReplaceTempView("fn_cls")
    val rows = spark.sql(
      "SELECT id, graft_quality_score(t) AS s FROM fn_cls ORDER BY id").collect()
    val want = graft.functions.Classifier.scoreQualityFused(
        Seq((1L, "The committee published its findings after a review."),
          (2L, "click here to unlock your exclusive bonus now")).toDF("id", "t"), "id", "t")
      .orderBy("id").select("score").collect()
    assert(rows(0).getLong(1) == want(0).getLong(0))
    assert(rows(1).getLong(1) == want(1).getLong(0))
    assert(rows(0).getLong(1) > 0 && rows(1).getLong(1) <= 0)
  }

  test("SQL-registered PII scrub, canonical URL, and payload dHash work in spark.sql") {
    GraftFunctions.registerAll(spark)
    val png = graft.functions.Multimodal.ImageHeader.synthPng(4, 4,
      "same buffer both ways".getBytes("UTF-8"))
    val wav = graft.functions.Multimodal.AudioHeader.synthWav(8000, 1,
      "same buffer both ways".getBytes("UTF-8"))
    Seq((1L, "mail a@b.org at 10.0.0.1", "https://Host.COM:443/p?utm_x=1&id=2#f", png, wav))
      .toDF("id", "t", "u", "img", "aud").createOrReplaceTempView("fn_new")
    val row = spark.sql(
      """SELECT graft_scrub_pii(t) AS s, graft_canonical_url(u) AS c,
        |  graft_payload_dhash(img) AS hi, graft_payload_dhash(aud) AS ha
        |FROM fn_new""".stripMargin).collect()(0)
    assert(row.getAs[String]("s") == "mail <EMAIL> at <IP>")
    assert(row.getAs[String]("c") == "https://host.com/p?id=2")
    assert(row.getAs[Long]("hi") == row.getAs[Long]("ha")) // container-invariant
  }

  test("SQL-registered C4 line filter works in spark.sql") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "keep this line with enough words here.\nshort.\nenable javascript on this long page."))
      .toDF("id", "t").createOrReplaceTempView("fn_c4")
    val row = spark.sql("SELECT graft_c4_filter_lines(t) AS f FROM fn_c4").collect()(0)
    assert(row.getAs[String]("f") == "keep this line with enough words here.")
  }

  test("SQL-registered shingle/minhash/vector primitives compose in pure SQL") {
    GraftFunctions.registerAll(spark)
    Seq((1L, "one two three four", Seq(3.0f, 4.0f)), (2L, "one two three four", Seq(6.0f, 8.0f)))
      .toDF("id", "t", "v").createOrReplaceTempView("fn_prims")
    val rows = spark.sql(
      """SELECT id, graft_minhash_sig64(graft_word_shingles3(t)) AS sig,
        |  graft_dot(graft_normalize(v), graft_normalize(v)) AS unit_dot
        |FROM fn_prims ORDER BY id""".stripMargin).collect()
    assert(rows(0).getSeq[Long](1).length == 64)
    // identical texts → identical signatures; normalized self-dot = 1
    assert(rows(0).getSeq[Long](1) == rows(1).getSeq[Long](1))
    assert(math.abs(rows(0).getDouble(2) - 1.0) < 1e-6) // float components
  }
}
