package graft

import graft.checks.Checks
import graft.checks.Checks.{FailedChecksException, Threshold}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

class ChecksSpec extends GraftSuite {
  import spark.implicits._

  private def df = Seq(
    (1, Some(10.0), "a"),
    (2, Some(20.0), "b"),
    (3, None, "a"),
    (3, Some(40.0), "c"))
    .toDF("id", "v", "tag")

  test("checkColumn computes null/distinct/unique/min/max in one pass") {
    val res = Checks.checkColumn(df, Map(
      "v" -> Map(
        "null_check" -> Threshold(equalTo = Some(1)),
        "min" -> Threshold(geqTo = Some(10)),
        "max" -> Threshold(leqTo = Some(40))),
      "id" -> Map(
        "distinct_check" -> Threshold(equalTo = Some(3)),
        "unique_check" -> Threshold(equalTo = Some(1)))))
    val byKey = res.map(r => (r.column, r.check) -> r).toMap
    assert(byKey(("v", "null_check")).result == 1.0)
    assert(byKey(("id", "distinct_check")).result == 3.0)
    assert(byKey(("id", "unique_check")).result == 1.0)
    assert(byKey(("v", "min")).result == 10.0)
    assert(byKey(("v", "max")).result == 40.0)
    assert(res.forall(_.success))
  }

  test("checkColumn fails on violated threshold") {
    val ex = intercept[FailedChecksException] {
      Checks.checkColumn(df, Map("v" -> Map("null_check" -> Threshold(equalTo = Some(0)))))
    }
    assert(ex.failures.head.column == "v")
  }

  test("tolerance widens equal_to (check_column.py _get_match parity)") {
    assert(Threshold(equalTo = Some(100), tolerance = Some(0.05)).passes(95))
    assert(Threshold(equalTo = Some(100), tolerance = Some(0.05)).passes(105))
    assert(!Threshold(equalTo = Some(100), tolerance = Some(0.05)).passes(94))
  }

  test("partition_clause filters before checking") {
    val res = Checks.checkColumn(df, Map("v" -> Map("null_check" -> Threshold(equalTo = Some(0)))),
      partitionClause = Some("tag <> 'a'"))
    assert(res.head.success)
  }

  test("checkTable evaluates named boolean checks over all rows") {
    val res = Checks.checkTable(df,
      Map("id_positive" -> "id > 0", "v_range" -> "v IS NULL OR v < 100"),
      failOnError = true)
    assert(res("id_positive") && res("v_range"))
    intercept[FailedChecksException] {
      Checks.checkTable(df, Map("v_small" -> "v < 40"))
    }
  }

  /** The single aggregation check_column used to be, kept as the reference
    * the branch plan of `checkColumnFrame` must equal bit for bit. */
  private def singleAggregation(df: DataFrame, checks: Seq[(String, String)],
      partitionClause: Option[String]): DataFrame = {
    def agg(c: String, check: String): Column = check match {
      case "null_check"     => sum(col(c).isNull.cast("long")).cast("double")
      case "distinct_check" => count_distinct(col(c)).cast("double")
      case "unique_check"   => (count(col(c)) - count_distinct(col(c))).cast("double")
      case "min"            => min(col(c)).cast("double")
      case "max"            => max(col(c)).cast("double")
    }
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val aggs = checks.map { case (c, check) => agg(c, check).as(s"${c}_$check") }
    filtered.agg(aggs.head, aggs.tail: _*)
  }

  /** nulls, duplicates and an all-null column */
  private def checked = Seq[(Option[Int], Option[Double], String, Option[Long])](
    (Some(1), Some(10.0), "a", None),
    (Some(2), Some(-0.0), "b", None),
    (Some(2), None, "a", None),
    (None, Some(40.5), "c", None),
    (Some(3), Some(10.0), "c", None),
    (None, None, "a", None))
    .toDF("id", "v", "tag", "gone")

  /** 0 to 3 columns counted distinct; the 2- and 3-column sets check `id`
    * for both distinct and unique values */
  private val checkSets: Seq[Seq[(String, String)]] = Seq(
    Seq("v" -> "null_check", "v" -> "min", "id" -> "max", "gone" -> "min"),
    Seq("v" -> "null_check", "id" -> "distinct_check", "v" -> "max"),
    Seq("id" -> "distinct_check", "gone" -> "null_check", "tag" -> "distinct_check",
      "id" -> "unique_check", "id" -> "min"),
    Seq("gone" -> "distinct_check", "v" -> "unique_check", "v" -> "min",
      "gone" -> "unique_check", "id" -> "unique_check", "v" -> "null_check",
      "gone" -> "max"))

  /** Each value as its raw double bits (None for null). */
  private def bits(r: Row): Seq[Option[Long]] =
    (0 until r.length).map(i =>
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))

  test("checkColumnFrame equals the single aggregation bit for bit, with no Expand") {
    val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), checked.schema)
    for {
      table <- Seq(checked, empty)
      checks <- checkSets
      clause <- Seq(None, Some("tag <> 'a'"))
    } {
      val frame = Checks.checkColumnFrame(table, checks, clause)
      val got = frame.collect()
      val want = singleAggregation(table, checks, clause).collect()
      val context = s"checks=$checks clause=$clause rows=${table.count()}"
      assert(got.length == 1 && want.length == 1, context)
      assert(frame.schema == singleAggregation(table, checks, clause).schema, context)
      assert(bits(got.head) == bits(want.head), context)
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("Expand") && !plan.contains("CartesianProduct"), s"$context\n$plan")
    }
    // the reference is what the branches replace: several distinct counts
    // in one aggregation go through an Expand
    val reference = singleAggregation(checked, checkSets.last, None)
    reference.collect()
    assert(reference.queryExecution.executedPlan.toString.contains("Expand"))
  }

  test("checkColumnFrame keeps a non-deterministic input in one aggregation") {
    val checks = checkSets.last
    for ((table, clause) <- Seq(
        (checked, Some("rand(7) < 0.5")),
        (checked.where(rand(7) < 0.5), None))) {
      val frame = Checks.checkColumnFrame(table, checks, clause)
      val context = s"clause=$clause"
      assert(bits(frame.collect().head) ==
        bits(singleAggregation(table, checks, clause).collect().head), context)
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoopJoin"), s"$context\n$plan")
    }
    // a deterministic input takes the branch plan
    assert(Checks.checkColumnFrame(checked, checks, Some("v > 0"))
      .queryExecution.executedPlan.toString.contains("NestedLoopJoin"))
  }

  test("checkColumn reads its results from checkColumnFrame") {
    val res = Checks.checkColumn(checked, Map(
      "id" -> Map("distinct_check" -> Threshold(equalTo = Some(3)),
        "unique_check" -> Threshold(equalTo = Some(1))),
      "gone" -> Map("min" -> Threshold())),
      partitionClause = Some("v IS NOT NULL"), failOnError = false)
    val byKey = res.map(r => (r.column, r.check) -> r.result).toMap
    assert(byKey(("id", "distinct_check")) == 3.0)
    assert(byKey(("id", "unique_check")) == 0.0)
    assert(byKey(("gone", "min")).isNaN)
    assert(!res.find(_.check == "unique_check").get.success)
  }
}
