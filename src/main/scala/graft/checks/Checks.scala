package graft.checks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality checks (SURVEY §2.4 check_column / check_table), computed
  * as aggregations over the table, with map-side partial aggregation and
  * no per-check queries: the scale-correct reshaping of the reference's
  * per-check SQL (sql/operators/data_validations/check_column.py:13-211,
  * pandas path 101-143; check_table.py:12-109). check_table is one
  * aggregation; check_column is one aggregation for its plain checks plus
  * one per column it counts distinct values of ([[Checks.checkColumnFrame]]).
  */
object Checks {

  /** A threshold for one named check on one column.
    * Mirrors the reference's option set: equal_to / greater_than /
    * less_than / geq_to / leq_to / tolerance (check_column.py docstring). */
  final case class Threshold(
      equalTo: Option[Double] = None,
      greaterThan: Option[Double] = None,
      lessThan: Option[Double] = None,
      geqTo: Option[Double] = None,
      leqTo: Option[Double] = None,
      tolerance: Option[Double] = None) {

    /** check_column.py _get_match semantics: tolerance widens each bound
      * multiplicatively. */
    def passes(result: Double): Boolean = {
      val tol = tolerance.getOrElse(0.0)
      val eq = equalTo.forall(e => result >= e * (1 - tol) && result <= e * (1 + tol))
      val gt = greaterThan.forall(g => result > g * (1 - tol))
      val lt = lessThan.forall(l => result < l * (1 + tol))
      val ge = geqTo.forall(g => result >= g * (1 - tol))
      val le = leqTo.forall(l => result <= l * (1 + tol))
      eq && gt && lt && ge && le
    }
  }

  /** One column-check outcome. */
  final case class CheckResult(column: String, check: String, result: Double, success: Boolean)

  final class FailedChecksException(val failures: Seq[CheckResult])
    extends RuntimeException(
      "The following tests have failed: " +
        failures.map(f => s"${f.column}.${f.check}=${f.result}").mkString(", "))

  /** check_column: evaluate `columnMapping` (column → check → threshold)
    * through [[checkColumnFrame]]; `partitionClause` is a SQL boolean
    * filter applied first (check_column.py partition_clause). */
  def checkColumn(
      df: DataFrame,
      columnMapping: Map[String, Map[String, Threshold]],
      partitionClause: Option[String] = None,
      failOnError: Boolean = true): Seq[CheckResult] = {
    val ordered = columnMapping.toSeq.flatMap { case (c, checks) =>
      checks.toSeq.map { case (name, th) => (c, name, th) }
    }
    if (ordered.isEmpty) return Nil
    val row = checkColumnFrame(df, ordered.map { case (c, name, _) => (c, name) }, partitionClause)
      .collect()(0)
    val results = ordered.zipWithIndex.map { case ((c, name, th), i) =>
      val v = if (row.isNullAt(i)) Double.NaN else row.getDouble(i)
      CheckResult(c, name, v, th.passes(v))
    }
    val failures = results.filterNot(_.success)
    if (failOnError && failures.nonEmpty) throw new FailedChecksException(failures)
    results
  }

  /** check_column as a one-row DataFrame: one double column
    * `<column>_<check>` per check, in order. Supported checks (parity with
    * check_column.py:101-143): null_check, distinct_check, unique_check
    * (non-null count minus distinct count), min, max.
    *
    * The plain aggregates (null counts, non-null counts, min, max) share
    * one aggregation, and each column whose distinct values are counted
    * gets its own single-distinct aggregation of the filtered input, so a
    * column checked for both distinct and unique is counted once. The
    * one-row results are cross-joined, each later branch broadcast to the
    * first: without the hint AQE streams whichever branch finishes last,
    * so the final stage's generated code, and a warm call's codegen cache
    * hit, would depend on that race. Several distinct counts in one aggregation would make
    * Spark copy every input row once per distinct column through an
    * `Expand`, all inside the task that reads the scan; as branches, each
    * scan reads its own column and the branches run as concurrent stages.
    * The values equal the single aggregation's bit for bit (ChecksSpec).
    * Each branch evaluates the filtered input anew, so when that input is
    * not deterministic (a `rand()` sample in `partitionClause` or `df`)
    * all checks stay in one aggregation, which reads the rows once. */
  def checkColumnFrame(
      df: DataFrame,
      checks: Seq[(String, String)],
      partitionClause: Option[String] = None): DataFrame = {
    require(checks.nonEmpty, "check_column needs at least one check")
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val counted = checks.collect { case (c, "distinct_check" | "unique_check") => c }.distinct
    def distinctOf(c: String): Column = col(s"__d${counted.indexOf(c)}")
    // per check: its plain aggregate, if any, and its value over the
    // joined row (`__p<i>` names the plain aggregate's result)
    val parts = checks.zipWithIndex.map { case ((c, check), i) =>
      val p = col(s"__p$i")
      check match {
        case "null_check"     => (Some(sum(col(c).isNull.cast("long"))), p)
        case "distinct_check" => (None, distinctOf(c))
        case "unique_check"   => (Some(count(col(c))), p - distinctOf(c))
        case "min"            => (Some(min(col(c))), p)
        case "max"            => (Some(max(col(c))), p)
        case other => throw new IllegalArgumentException(s"unknown column check: $other")
      }
    }
    val plain = parts.zipWithIndex.collect { case ((Some(agg), _), i) => agg.as(s"__p$i") }
    val distincts = counted.zipWithIndex.map { case (c, j) => count_distinct(col(c)).as(s"__d$j") }
    val branches =
      if (filtered.queryExecution.analyzed.deterministic)
        plain.headOption.map(h => filtered.agg(h, plain.tail: _*)).toSeq ++ distincts.map(filtered.agg(_))
      else Seq(filtered.agg((plain ++ distincts).head, (plain ++ distincts).tail: _*))
    branches.reduce((l, r) => l.crossJoin(broadcast(r))).select(parts.zip(checks).map { case ((_, value), (c, check)) =>
      value.cast("double").as(s"${c}_$check")
    }: _*)
  }

  /** check_table: named boolean SQL expressions evaluated table-wide via
    * MIN(CASE WHEN expr THEN 1 ELSE 0 END), all in one aggregation
    * (check_table.py:55-60). Returns check name → passed. */
  def checkTable(
      df: DataFrame,
      checks: Map[String, String],
      partitionClause: Option[String] = None,
      failOnError: Boolean = true): Map[String, Boolean] = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val ordered = checks.toSeq
    val aggs = ordered.map { case (name, stmt) =>
      min(when(expr(stmt), 1L).otherwise(0L)).as(name)
    }
    val row = filtered.agg(aggs.head, aggs.tail: _*).collect()(0)
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      name -> (!row.isNullAt(i) && row.getLong(i) == 1L)
    }.toMap
    val failures = results.collect { case (n, false) => n }
    if (failOnError && failures.nonEmpty)
      throw new FailedChecksException(
        failures.toSeq.map(n => CheckResult("<table>", n, 0.0, success = false)))
    results
  }

  /** checkTable as a one-row DataFrame (check name → 0/1) for verify. */
  def checkTableFrame(
      df: DataFrame,
      checks: Seq[(String, String)],
      partitionClause: Option[String] = None): DataFrame = {
    val filtered = partitionClause.map(df.where).getOrElse(df)
    val aggs = checks.map { case (name, stmt) =>
      min(when(expr(stmt), 1L).otherwise(0L)).as(name)
    }
    filtered.agg(aggs.head, aggs.tail: _*)
  }
}
