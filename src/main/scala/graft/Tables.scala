package graft

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Test-table access: registers the driver-generated parquet tables
  * (TESTDATA.md) as temp views so SQL queries can reference them by the
  * same names the DuckDB oracle sees.
  *
  * Like a catalog, this resolves each table once: it keeps one parquet
  * relation per (session, absolute path), i.e. the analysed plan of
  * `spark.read.parquet(path)` with its inferred schema and file listing.
  * Every call revalidates it against a fresh listing of the path (path,
  * length and mtime of each file; a Hadoop `listStatus`, no Spark job)
  * and rebuilds it, schema inference included, only when that listing
  * changed, so a table rewritten in place is seen by the next call. A
  * session never gets another session's relation.
  *
  * [[read]] returns a new DataFrame over the kept relation on each call,
  * with fresh output attributes (two reads of one table self-join like
  * two independent reads), planned under the session's current confs.
  * [[registerAll]] re-creates a table's temp view only when the view in
  * the catalog is not the one it registered from the current relation: a
  * view a caller replaced or dropped, or one whose relation was rebuilt.
  * A warm call therefore runs no command and keeps the views' plans, so
  * queries over them hit the generated-code cache.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr}
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The driver has shipped `events.ts` in three parquet layouts across
    * testdata refreshes: TIMESTAMP(NANOS) (readable only as a raw Long
    * under `nanosAsLong`), pandas `timestamp[us]` without the UTC flag
    * (Spark 4's `inferTimestampNTZ` reads it as TIMESTAMP_NTZ), and a
    * plain UTC-adjusted µs timestamp. Normalize all three to the µs
    * TimestampType every consumer expects — the session TZ is pinned to
    * UTC, so the NTZ cast is value-identical and matches how DuckDB
    * reads the same file for the oracle.
    */
  def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType          => df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType  => df.withColumn(c, col(c).cast(TimestampType))
      case _                 => df
    }

  /** A resolved relation and the listing it was resolved from. `view` is
    * the raw temp view [[registerAll]] last created from it. */
  private final class Entry(val listing: Seq[(String, Long, Long)], val relation: LogicalRelation) {
    @volatile var view: Option[TemporaryViewRelation] = None
  }

  // keyed by session identity; entries of a stopped session are dropped
  // whenever a relation is (re)built
  private val memo = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Entry]()

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frame(spark, name, entry(spark, spark.sessionState.newHadoopConf(), name, path(sfDir, name)))

  /** Register all tables as temp views for `sfDir` (idempotent). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val catalog = spark.sessionState.catalog
    All.foreach { n =>
      val e = entry(spark, conf, n, path(sfDir, n))
      if (!e.view.exists(v => catalog.getRawTempView(n).exists(_ eq v))) {
        frame(spark, n, e).createOrReplaceTempView(n)
        e.view = catalog.getRawTempView(n)
      }
    }
  }

  private def frame(spark: SparkSession, name: String, e: Entry): DataFrame = {
    val df = ColumnBridge.ofRows(spark, e.relation.newInstance())
    if (name == "events") normalizeTs(df) else df
  }

  /** The current relation for `p`, rebuilt when its listing changed. A
    * missing path lists as empty, and the build raises Spark's error. */
  private def entry(spark: SparkSession, conf: Configuration, name: String, p: String): Entry = {
    // nanosAsLong only affects the TIMESTAMP(NANOS) layout (which Spark 4
    // otherwise refuses to read); harmless for the µs layouts. Set on
    // every call: it is read again when each query is planned.
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val hp = new Path(p)
    val fs = hp.getFileSystem(conf)
    val qp = fs.makeQualified(hp)
    val now = try listing(fs, fs.getFileStatus(qp)) catch { case _: FileNotFoundException => Nil }
    val key = (spark, qp.toString)
    val cur = memo.get(key)
    if (cur != null && cur.listing == now) cur
    else {
      memo.keySet.removeIf(_._1.sparkContext.isStopped)
      memo.compute(key, (_, old) =>
        if (old != null && old.listing == now) old
        else spark.read.parquet(p).queryExecution.analyzed match {
          case r: LogicalRelation => new Entry(now, r)
          case other => throw new IllegalStateException(s"$p resolved to ${other.nodeName}")
        })
    }
  }

  private def listing(fs: FileSystem, s: FileStatus): Seq[(String, Long, Long)] =
    if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(listing(fs, _)).sorted
    else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
}
