package graft

import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Pins the driver-checker contract for every declared query: the driver
  * loads both the Spark result and the DuckDB oracle into pandas and
  * `sort_values` over ALL columns — a top-level array/map/struct column is
  * unsortable there (`unhashable type: numpy.ndarray`) and turns the row
  * red regardless of the values. Round 7 shipped three such regressions
  * (p_embed_quantize / p_embed_centroids / p_inverted_index); this spec
  * makes the class unshippable: every output schema must be atomic-only.
  */
class ContractSpec extends GraftSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("the registry declares each query once and oracles every contract row") {
    val names = SparkEntry.all.map(_.name)
    assert(names.diff(names.distinct).isEmpty,
      "declared more than once: " + names.diff(names.distinct).distinct.mkString(", "))
    assert(SparkEntry.queries.size == 216)
    assert(SparkEntry.benchOnlyQueries.size == 6)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.keySet.intersect(SparkEntry.benchOnlyQueries.keySet).isEmpty)
    assert(SparkEntry.all.count(_.curve) == 37)
  }

  test("every declared query emits only atomic top-level columns") {
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val schema = SparkEntry.queries(name)(spark, sfDir).schema
      schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      "driver checker cannot sort non-atomic columns:\n" + offenders.mkString("\n"))
  }
}
