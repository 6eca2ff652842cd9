package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.Fixtures

/** Pins `Tables.read`'s events.ts normalization across every parquet
  * layout the driver's testdata generator has shipped: TIMESTAMP(NANOS)
  * (surfaces as a raw Long under nanosAsLong), pandas timestamp[us]
  * without the UTC flag (TIMESTAMP_NTZ), and plain UTC-adjusted µs.
  * A testdata refresh that flips layout again must not change values.
  *
  * Also pins the per-session relation memo: a warm `registerAll` runs no
  * command and keeps its views, restores views a caller replaced or
  * dropped, and a table rewritten in place is seen by the next call.
  */
class TablesSpec extends GraftSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def rawView(s: SparkSession, name: String) =
    s.sessionState.catalog.getRawTempView(name)

  private def relation(df: DataFrame): LogicalRelation =
    df.queryExecution.analyzed.collectLeaves().collectFirst { case r: LogicalRelation => r }.get

  /** The names of the actions and commands `body` runs in `s`. */
  private def commands(s: SparkSession)(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(funcName)
    }
    // events of earlier calls still queued would reach the new listener
    ColumnBridge.drainListenerBus(s.sparkContext)
    s.listenerManager.register(l)
    try { body; ColumnBridge.drainListenerBus(s.sparkContext) }
    finally s.listenerManager.unregister(l)
    seen.toArray.toSeq.map(_.toString)
  }

  test("a warm registerAll runs no command and keeps the same views") {
    Tables.registerAll(spark, sfDir)
    val views = Tables.All.map(n => rawView(spark, n).get)
    assert(commands(spark)(Tables.registerAll(spark, sfDir)).isEmpty)
    Tables.All.zip(views).foreach { case (n, v) => assert(rawView(spark, n).get eq v, n) }
  }

  test("registerAll restores a base view a caller replaced or dropped") {
    import spark.implicits._
    Tables.registerAll(spark, sfDir)
    val orders = spark.table("orders").count()
    Seq(1L, 2L).toDF("o_orderkey").createOrReplaceTempView("orders")
    spark.catalog.dropTempView("region")
    // the control: the listener does see the two views re-created
    assert(commands(spark)(Tables.registerAll(spark, sfDir)).size == 2)
    assert(spark.table("orders").count() == orders)
    assert(spark.table("orders").columns.contains("o_custkey"))
    assert(spark.table("region").count() == Tables.read(spark, sfDir, "region").count())
  }

  test("a new session gets its own views and relations") {
    Tables.registerAll(spark, sfDir)
    val other = spark.newSession()
    assert(rawView(other, "orders").isEmpty)
    Tables.registerAll(other, sfDir)
    assert(!(rawView(other, "orders").get eq rawView(spark, "orders").get))
    val rel = relation(Tables.read(other, sfDir, "orders")).relation
    assert(rel.asInstanceOf[HadoopFsRelation].sparkSession eq other)
    assert(!(rel eq relation(Tables.read(spark, sfDir, "orders")).relation))
    assert(other.table("orders").count() == spark.table("orders").count())
  }

  test("read returns a new Dataset over the same relation, with fresh attributes") {
    val a = Tables.read(spark, sfDir, "lineitem")
    val b = Tables.read(spark, sfDir, "lineitem")
    assert(!(a eq b))
    assert(relation(a).relation eq relation(b).relation)
    assert(relation(a).output.map(_.exprId) != relation(b).output.map(_.exprId))
    // two reads self-join like two independent reads
    def selfJoin(x: DataFrame, y: DataFrame) =
      x.join(y, x("l_orderkey") === y("l_orderkey") && x("l_linenumber") === y("l_linenumber")).count()
    val p = Tables.path(sfDir, "lineitem")
    assert(selfJoin(a, b) == selfJoin(spark.read.parquet(p), spark.read.parquet(p)))
  }

  test("a table rewritten at its path: the next read and registerAll see its new schema and rows") {
    val dir = Fixtures.scratch("graft-tables-")
    Tables.All.foreach(n => Fixtures.linkOrCopy(Paths.get(Tables.path(sfDir, n)), Paths.get(Tables.path(dir, n))))
    Tables.registerAll(spark, dir)
    val rows = Tables.read(spark, dir, "nation").count()
    assert(!Tables.read(spark, dir, "nation").columns.contains("n_extra"))
    // rewrite nation in place: one more column, one row fewer
    val rewritten = spark.read.parquet(Tables.path(sfDir, "nation"))
      .orderBy("n_nationkey").limit(rows.toInt - 1).withColumn("n_extra", lit(7L))
      .localCheckpoint()
    Files.delete(Paths.get(Tables.path(dir, "nation")))
    rewritten.write.parquet(Tables.path(dir, "nation"))
    val read = Tables.read(spark, dir, "nation")
    assert(read.columns.contains("n_extra"))
    assert(read.count() == rows - 1)
    Tables.registerAll(spark, dir)
    assert(spark.table("nation").columns.contains("n_extra"))
    assert(spark.table("nation").count() == rows - 1)
    Tables.registerAll(spark, sfDir)
  }

  test("events.ts: all three historical layouts normalize to identical µs TimestampType") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1700000000000000L),
      (2L, 1700000123456789L),
      (3L, 1700009999999999L))

    def writeLayout(layout: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ts_$layout").toString
      val base = rows.toDF("event_id", "us")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      val df = layout match {
        // the nanos layout reads back as LongType under nanosAsLong
        case "long_nanos" => base.withColumn("ts", unix_micros(col("ts")) * 1000L)
        case "ntz"        => base.withColumn("ts", col("ts").cast(TimestampNTZType))
        case "utc"        => base
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }

    val reads = Seq("long_nanos", "ntz", "utc").map { layout =>
      val df = Tables.read(spark, writeLayout(layout), "events")
      assert(df.schema("ts").dataType == TimestampType,
        s"$layout layout must normalize to TimestampType, got ${df.schema("ts").dataType}")
      layout -> df.orderBy("event_id")
        .select(unix_micros(col("ts"))).as[Long].collect().toSeq
    }.toMap

    assert(reads("long_nanos") == rows.map(_._2), reads.toString)
    assert(reads("ntz") == rows.map(_._2), reads.toString)
    assert(reads("utc") == rows.map(_._2), reads.toString)
  }
}
