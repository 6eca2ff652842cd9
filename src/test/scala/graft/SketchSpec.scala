package graft

import graft.functions.Sketch
import org.apache.spark.sql.functions._

/** KMV sketch laws: below-k exactness, partition invariance (the buffer
  * is a SET, so merge order is unobservable), the union merge law
  * (sketch of concatenation == k-min merge of sketches), duplicate
  * insensitivity, and estimator accuracy on a larger domain. */
class SketchSpec extends GraftSuite {
  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int): Seq[Long] =
    df.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.kmv(col("h"), k).as("km"))
      .select("km").as[Seq[Long]].head()

  test("below k distinct values the sketch is exhaustive and the estimate exact") {
    val d = (1 to 10).flatMap(i => Seq(s"item$i", s"item$i")).toDF("v")
    val km = sketch(d, 16)
    assert(km.size == 10)
    assert(km == km.sorted)
    val est = d.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.kmv(col("h"), 16).as("km"))
      .select(Sketch.kmvEstimate(col("km"), 16)).as[Double].head()
    assert(est == 10.0)
  }

  test("sketch is partition-invariant") {
    val d = (1 to 5000).map(i => s"w$i").toDF("v")
    val a = sketch(d.repartition(1), 32)
    val b = sketch(d.repartition(17), 32)
    assert(a == b)
  }

  /** Run `body` with `spark.sql.ansi.enabled` set to `value`, then put the
    * key back as it was — unset again when it was unset, so later suites
    * in the shared session keep the session default. */
  private def withAnsi[T](value: String)(body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("kmvEstimate is total: all-NULL group, NULL sketch, ANSI mode on") {
    withAnsi("true") {
      // an all-NULL group folds to an EMPTY sketch → exact estimate 0.0,
      // no out-of-bounds element access under ANSI
      val d = Seq[Option[String]](None, None, None).toDF("v")
      val est = d.select(Sketch.kmvHash(col("v")).as("h"))
        .groupBy().agg(Sketch.kmv(col("h"), 8).as("km"))
        .select(Sketch.kmvEstimate(col("km"), 8).as("e"))
        .as[Option[Double]].head()
      assert(est.contains(0.0))
      // a NULL sketch column yields NULL, never legacy size(NULL) = -1
      val n = Seq(1).toDF("x")
        .select(Sketch.kmvEstimate(lit(null).cast("array<bigint>"), 8).as("e"))
        .as[Option[Double]].head()
      assert(n.isEmpty)
    }
    // and with ANSI off, the NULL sketch still yields NULL
    val off = withAnsi("false") {
      Seq(1).toDF("x")
        .select(Sketch.kmvEstimate(lit(null).cast("array<bigint>"), 8).as("e"))
        .as[Option[Double]].head()
    }
    assert(off.isEmpty)
  }

  test("duplicated input leaves the sketch unchanged") {
    val d = (1 to 500).map(i => s"w$i").toDF("v")
    assert(sketch(d, 32) == sketch(d.union(d).union(d), 32))
  }

  test("merge law: sketch(A ++ B) == kmvUnion(sketch(A), sketch(B))") {
    val a = (1 to 800).map(i => s"a$i").toDF("v")
    val b = (500 to 1300).map(i => s"b$i").toDF("v")
    val full = sketch(a.union(b), 24)
    val merged = a.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.kmv(col("h"), 24).as("ka"))
      .crossJoin(b.select(Sketch.kmvHash(col("v")).as("h"))
        .groupBy().agg(Sketch.kmv(col("h"), 24).as("kb")))
      .select(Sketch.kmvUnion(col("ka"), col("kb"), 24).as("ku"))
      .as[Seq[Long]].head()
    assert(full == merged)
  }

  private def qsketch(
      df: org.apache.spark.sql.DataFrame, k: Int): (Long, Seq[Long]) = {
    val row = df
      .select(Sketch.kmvQuantilePack(col("id"), col("v")).as("p"))
      .groupBy().agg(Sketch.kmv(col("p"), k).as("km"))
      .select(size(col("km")).cast("long").as("m"),
        Sketch.kmvSampleValues(col("km")).as("vals"))
      .as[(Long, Seq[Long])].head()
    row
  }

  test("quantile sketch: below k items the sample is the whole group and quantiles exact") {
    val d = (1 to 40).map(i => (i.toLong, (i * 7L) % 100)).toDF("id", "v")
    val (m, vals) = qsketch(d, 64)
    assert(m == 40)
    assert(vals == d.select("v").as[Long].collect().sorted.toSeq)
    val p50 = d.select(Sketch.kmvQuantilePack(col("id"), col("v")).as("p"))
      .groupBy().agg(Sketch.kmv(col("p"), 64).as("km"))
      .select(Sketch.kmvQuantileAt(Sketch.kmvSampleValues(col("km")), 50))
      .as[Long].head()
    // nearest-lower rank 1 + floor(50·39/100) = 20 of the 40 sorted values
    assert(p50 == d.select("v").as[Long].collect().sorted.apply(19))
  }

  test("quantile sketch is partition-invariant") {
    val d = (1 to 5000).map(i => (i.toLong, i * 3L)).toDF("id", "v")
    assert(qsketch(d.repartition(1), 32) == qsketch(d.repartition(17), 32))
  }

  test("quantile sketch clamps values into the 24-bit domain") {
    val d = Seq((1L, -5L), (2L, 1L << 30)).toDF("id", "v")
    val (_, vals) = qsketch(d, 8)
    assert(vals == Seq(0L, (1L << 24) - 1))
  }

  test("quantile sketch estimates land near exact quantiles at k=256") {
    val n = 20000
    val d = (1 to n).map(i => (i.toLong, i.toLong)).toDF("id", "v") // values 1..n
    val sorted = d.select(Sketch.kmvQuantilePack(col("id"), col("v")).as("p"))
      .groupBy().agg(Sketch.kmv(col("p"), 256).as("km"))
      .select(Sketch.kmvQuantileAt(Sketch.kmvSampleValues(col("km")), 50))
      .as[Long].head()
    // sample median of a uniform bottom-k-by-hash sample: rank rsd
    // ~ 1/(2·sqrt(k)) ≈ 3.1%; allow 5 sigma
    assert(math.abs(sorted - n / 2) < 0.16 * n, s"p50=$sorted")
  }

  test("fused word grams equal the split+slide lambda over real documents") {
    // the gram construction under every sketch row and the portable
    // banding — the fused expr must match the relational spelling the
    // oracles replay, on the actual corpus
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    def lambda(k: Int): org.apache.spark.sql.Column = {
      val toks = split(lower(trim(col("text"))), "\\s+")
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    }
    import org.apache.spark.sql.graftbridge.ColumnBridge
    def fused(k: Int, distinct: Boolean) = ColumnBridge.column(
      graft.functions.WordGramsExpr(
        ColumnBridge.expression(lower(trim(col("text")))), k, distinct))
    val bad2 = d.select(fused(2, false).as("f"), lambda(2).as("l"))
      .where(not(col("f") === col("l"))).count()
    assert(bad2 == 0L)
    val bad3 = d.select(fused(3, true).as("f"), array_distinct(lambda(3)).as("l"))
      .where(not(col("f") === col("l"))).count()
    assert(bad3 == 0L)
  }

  test("fused md5 prefix equals the conv(substring(md5)) column form") {
    // kmvHash/kmvQuantilePack are the portable-hash kernel under every
    // md5-replay oracle; the fused digest must stay bit-identical to the
    // relational spelling DuckDB replays (incl. unicode + empty strings)
    val d = (Seq("", "a", "café 中文", "zq extra trailing token") ++
      (1 to 500).map(i => s"w$i b${i % 7}")).toDF("v")
    val cmp = d.select(
      Sketch.kmvHash(col("v")).as("fused"),
      conv(substring(md5(col("v")), 1, 15), 16, 10).cast("long").as("col15"),
      (Sketch.kmvQuantilePack(col("v"), lit(0L)) / Sketch.QuantileValueDomain)
        .cast("long").as("fused9"),
      conv(substring(md5(col("v")), 1, 9), 16, 10).cast("long").as("col9"))
      .collect()
    cmp.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"15-nibble mismatch: $r")
      assert(r.getLong(2) == r.getLong(3), s"9-nibble mismatch: $r")
    }
  }

  test("estimator lands near the true cardinality at k=128") {
    val n = 20000
    val d = (1 to n).map(i => s"word$i").toDF("v")
    val est = d.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.kmv(col("h"), 128).as("km"))
      .select(Sketch.kmvEstimate(col("km"), 128)).as[Double].head()
    // deterministic given md5; ~1/sqrt(126) ≈ 9% rsd, allow 4 sigma
    assert(math.abs(est - n) < 0.36 * n, s"est=$est")
  }

  // ---------------- HyperLogLog ----------------

  private def hllRegs(df: org.apache.spark.sql.DataFrame, p: Int): Seq[Int] =
    df.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.hll(col("h"), p).as("r"))
      .select("r").as[Seq[Int]].head()

  private def hllEst(df: org.apache.spark.sql.DataFrame, p: Int): Double =
    df.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.hll(col("h"), p).as("r"))
      .select(Sketch.hllEstimate(col("r"), p)).as[Double].head()

  test("hll registers match an independent bucket/rho computation over md5") {
    val d = (1 to 300).map(i => s"item$i").toDF("v")
    val p = 8
    val regs = hllRegs(d, p)
    assert(regs.size == 256 && regs.forall(r => r >= 0 && r <= 53))
    // independent replay: same 60-bit md5 prefix, top-8-bit bucket,
    // leading-zero run of the remaining 52 bits + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = new Array[Int](256)
    (1 to 300).foreach { i =>
      val hex = md.digest(s"item$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val bucket = (h >>> 52).toInt
      val rem = h & ((1L << 52) - 1)
      val rho = 52 + 1 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
      if (rho > expect(bucket)) expect(bucket) = rho
    }
    assert(regs == expect.toSeq)
  }

  test("hll sketch is partition- and duplicate-invariant") {
    val d = (1 to 5000).map(i => s"w$i").toDF("v")
    val a = hllRegs(d.repartition(1), 8)
    val b = hllRegs(d.repartition(17), 8)
    assert(a == b)
    assert(hllRegs(d.union(d).union(d), 8) == a)
  }

  test("hll merge law: hll(A ++ B) == hllUnion(hll(A), hll(B))") {
    val a = (1 to 800).map(i => s"a$i").toDF("v")
    val b = (500 to 1300).map(i => s"b$i").toDF("v")
    val full = hllRegs(a.union(b), 8)
    val merged = a.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.hll(col("h"), 8).as("ra"))
      .crossJoin(b.select(Sketch.kmvHash(col("v")).as("h"))
        .groupBy().agg(Sketch.hll(col("h"), 8).as("rb")))
      .select(Sketch.hllUnion(col("ra"), col("rb")).as("ru"))
      .as[Seq[Int]].head()
    assert(full == merged)
  }

  test("hll small-range correction: tiny cardinalities estimate near-exactly") {
    // 40 distinct at m=256 → linear-counting branch; deterministic given
    // md5, and linear counting at this load factor is exact to ~±4
    val d = (1 to 40).map(i => s"tok$i").toDF("v")
    val est = hllEst(d, 8)
    assert(math.abs(est - 40.0) < 5.0, s"est=$est")
    // empty group: all registers zero → V = m → correction ln(m/m) = 0
    val empty = Seq.empty[String].toDF("v")
    assert(hllEst(empty, 8) == 0.0)
  }

  test("hll estimator lands near the true cardinality at p=8") {
    val n = 50000
    val d = (1 to n).map(i => s"word$i").toDF("v")
    val est = hllEst(d, 8)
    // rsd = 1.04/sqrt(256) ≈ 6.5%; allow 4 sigma
    assert(math.abs(est - n) < 0.26 * n, s"est=$est")
  }

  test("hll micro estimate is the integer twin of the double estimator") {
    // the contract rows ship integer micro-units (engine-version-portable);
    // this pins them to the in-suite double path: |micro/1e6 − est| ≤ 1e-6
    // on BOTH branches (raw: floor of the same quotient; correction:
    // floor of the same table entry), and the empty sketch reads 0
    for (n <- Seq(40, 3000, 50000)) {
      val d = (1 to n).map(i => s"w$i").toDF("v")
      val agg = d.select(Sketch.kmvHash(col("v")).as("h"))
        .groupBy().agg(Sketch.hll(col("h"), 8).as("r"))
      val (micro, dbl) = agg.select(
        Sketch.hllEstimateMicro(col("r"), 8),
        Sketch.hllEstimate(col("r"), 8)).as[(Long, Double)].head()
      assert(math.abs(micro / 1e6 - dbl) <= 2e-6, s"n=$n micro=$micro dbl=$dbl")
    }
    val empty = Seq.empty[String].toDF("v")
    val m0 = empty.select(Sketch.kmvHash(col("v")).as("h"))
      .groupBy().agg(Sketch.hll(col("h"), 8).as("r"))
      .select(Sketch.hllEstimateMicro(col("r"), 8)).as[Long].head()
    assert(m0 == 0L)
  }

  test("hll null inputs are ignored, all-NULL group estimates 0") {
    val d = Seq[Option[String]](None, None, Some("x")).toDF("v")
    assert(math.abs(hllEst(d, 8) - 1.0) < 0.5)
    val allNull = Seq[Option[String]](None, None).toDF("v")
    assert(hllEst(allNull, 8) == 0.0)
  }

  // ---------------- Count-Min ----------------

  test("cms estimates dominate true counts and are near-exact at low load") {
    // 30 distinct keys, frequency i — far below w=512, so collisions are
    // rare; the structural guarantee est >= true must hold for EVERY key
    val d = (1 to 30).flatMap(i => Seq.fill(i)(s"key$i")).toDF("v")
    val table = Sketch.cmsTable(d, "v", depth = 4, width = 512)
    val keys = (1 to 30).map(i => s"key$i").toDF("v")
    val est = Sketch.cmsLookup(table, keys, "v", depth = 4, width = 512)
      .as[(String, Long)].collect().toMap
    (1 to 30).foreach { i =>
      val e = est(s"key$i")
      assert(e >= i, s"cms under-counted key$i: $e < $i")
      assert(e <= i + 30, s"cms over-counted key$i far beyond load: $e")
    }
  }

  test("cms table is partition-invariant and absent keys read 0") {
    val d = (1 to 2000).map(i => s"w${i % 97}").toDF("v")
    def tbl(df: org.apache.spark.sql.DataFrame) =
      Sketch.cmsTable(df, "v", depth = 4, width = 256)
        .orderBy("cms_row", "cms_bucket")
        .as[(Int, Long, Long)].collect().toSeq
    assert(tbl(d.repartition(1)) == tbl(d.repartition(17)))
    // a key never inserted: if all d buckets are untouched the min is 0
    val ghost = Seq("never-inserted-key-xyzzy").toDF("v")
    val est = Sketch.cmsLookup(
      Sketch.cmsTable(Seq("a").toDF("v"), "v", 4, 256), ghost, "v", 4, 256)
      .as[(String, Long)].head()._2
    assert(est == 0L)
  }

  test("cms shard merge law: counters of A++B equal elementwise sum of shard counters") {
    val a = (1 to 500).map(i => s"a${i % 37}").toDF("v")
    val b = (1 to 700).map(i => s"b${i % 53}").toDF("v")
    val full = Sketch.cmsTable(a.union(b), "v", 4, 128)
    val merged = Sketch.cmsTable(a, "v", 4, 128)
      .unionByName(Sketch.cmsTable(b, "v", 4, 128))
      .groupBy("cms_row", "cms_bucket").agg(sum("cnt").as("cnt"))
    val f = full.as[(Int, Long, Long)].collect().toSet
    val m = merged.as[(Int, Long, Long)].collect().toSet
    assert(f == m)
  }

  test("cms inner product dominates the exact join size; zero-overlap rows prove 0") {
    // A: keys a..j with frequency i; B: overlapping keys f..j with freq 2i
    val a = (1 to 10).flatMap(i => Seq.fill(i)(s"k$i")).toDF("v")
    val b = (6 to 10).flatMap(i => Seq.fill(2 * i)(s"k$i")).toDF("v")
    val exact = (6 to 10).map(i => i * 2 * i).sum.toLong
    val est = Sketch.cmsInnerProduct(
      Sketch.cmsTable(a, "v", 4, 512), Sketch.cmsTable(b, "v", 4, 512), 4)
      .as[Long].head()
    assert(est >= exact, s"inner product under-counted: $est < $exact")
    assert(est <= exact + 200, s"inner product far beyond load: $est")
    // disjoint key sets: at w=512 and 3 keys/side a shared bucket is
    // possible per row but all 4 rows colliding is ~impossible for this
    // fixed md5 instance — the min must prove the join empty
    val c = Seq("x1", "x2", "x3").toDF("v")
    val d = Seq("y1", "y2", "y3").toDF("v")
    val zero = Sketch.cmsInnerProduct(
      Sketch.cmsTable(c, "v", 4, 512), Sketch.cmsTable(d, "v", 4, 512), 4)
      .as[Long].head()
    assert(zero == 0L, s"disjoint sides must estimate 0, got $zero")
  }

  test("SQL surface: graft_kmv/graft_hll aggregates equal the Scala API") {
    graft.functions.GraftFunctions.registerAll(spark)
    val d = (1 to 3000).map(i => (s"g${i % 3}", s"w${i % 997}")).toDF("g", "v")
    d.createOrReplaceTempView("sketch_sql_in")
    val viaSql = spark.sql(
      """SELECT g,
        |  graft_kmv_estimate(graft_kmv(graft_kmv_hash(v), 64), 64) AS kmv_est,
        |  graft_hll_estimate(graft_hll(graft_kmv_hash(v), 8), 8) AS hll_est
        |FROM sketch_sql_in GROUP BY g ORDER BY g""".stripMargin)
      .as[(String, Double, Double)].collect().toSeq
    val viaApi = d.select(col("g"), Sketch.kmvHash(col("v")).as("h"))
      .groupBy("g").agg(Sketch.kmv(col("h"), 64).as("km"),
        Sketch.hll(col("h"), 8).as("r"))
      .select(col("g"), Sketch.kmvEstimate(col("km"), 64),
        Sketch.hllEstimate(col("r"), 8))
      .orderBy("g").as[(String, Double, Double)].collect().toSeq
    assert(viaSql == viaApi)
    // the size parameter shapes the buffer — non-literal must fail fast
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_hll(graft_kmv_hash(v), length(v)) FROM sketch_sql_in")
        .collect()
    }
    assert(ex.getMessage.toLowerCase.contains("literal"))
  }

  test("cms grouped build keeps groups independent") {
    val d = Seq(("g1", "x"), ("g1", "x"), ("g2", "x")).toDF("g", "v")
    val table = Sketch.cmsTable(d, "v", 4, 64, groupCols = Seq("g"))
    val keys = Seq(("g1", "x"), ("g2", "x")).toDF("g", "v")
    val est = Sketch.cmsLookup(table, keys, "v", 4, 64, groupCols = Seq("g"))
      .as[(String, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(est("g1") == 2L && est("g2") == 1L)
  }
}
