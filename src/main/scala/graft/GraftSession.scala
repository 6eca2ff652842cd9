package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.io.{Flatten, LocalFs}
import graft.ops.Merge
import graft.sql.{SqlDialect, SqlTemplate}

/** The engine facade: one Spark-native implementation of the reference's
  * whole operator surface (python-sdk/src/astro/sql/__init__.py:20-50).
  * Where the reference dispatched to 8 delegated SQL engines
  * (databases/__init__.py:29-52), here the `SparkSession` *is* the engine.
  *
  * Table storage model (designed for a real cluster, not just local mode):
  * every materialization is a **write-new-swap-pointer**: the new data is
  * written to a fresh location, the catalog entry is swapped to point at
  * it, and the old location is deleted. This makes replace/merge safe even
  * when the new plan reads the table being replaced (SURVEY §7.5 risk 2)
  * and is the same pattern a production lake would use — no
  * read-while-overwrite, no partial-overwrite torn state.
  */
class GraftSession(val spark: SparkSession) {

  /** Temp-table registry — the run-context replacement for the reference's
    * XCom walk in cleanup (sql/operators/cleanup.py:55-301). */
  private val tempTables = mutable.LinkedHashSet[String]()
  /** Thin per-operator run log — the debuggability stand-in for the
    * reference's OpenLineage facets (SURVEY §2.6). */
  private val opLog = mutable.ArrayBuffer[GraftSession.OpLogEntry]()

  private def logOp(op: String, inputs: Seq[String], outputs: Seq[String]): Unit =
    opLog += GraftSession.OpLogEntry(op, inputs, outputs)

  /** Operator invocations recorded by this session, in order. */
  def runLog: Seq[GraftSession.OpLogEntry] = opLog.toSeq
  /** table name (lowercased) -> storage path we own (for GC on drop). */
  private val tablePaths = mutable.HashMap[String, String]()

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def warehouseDir: String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/")

  private def newStoragePath(table: String): String =
    s"$warehouseDir/_graft/${table.toLowerCase}_${java.util.UUID.randomUUID().toString.take(12)}"

  // -------------------------------------------------------------------
  // Catalog / schema management (databases/base.py:174-196,776-798)
  // -------------------------------------------------------------------

  /** CREATE SCHEMA IF NOT EXISTS parity (databases/base.py:776-790). */
  def createSchemaIfNeeded(schema: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${SqlIdentifiers.quoteIfNeeded(schema)}")

  def schemaExists(schema: String): Boolean = spark.catalog.databaseExists(schema)

  def tableExists(table: TableRef): Boolean =
    spark.catalog.tableExists(table.qualifiedName)

  /** databases/base.py:174-196 columns_exist. */
  def columnsExist(table: TableRef, columns: Seq[String]): Boolean = {
    val have = spark.table(table.qualifiedName).columns.map(_.toLowerCase).toSet
    columns.forall(c => have.contains(c.toLowerCase))
  }

  def rowCount(table: TableRef): Long = spark.table(table.qualifiedName).count()

  /** databases/base.py:446-459 fetch_all_rows. */
  def fetchAllRows(table: TableRef, rowLimit: Int = -1): Seq[Row] = {
    val df = spark.table(table.qualifiedName)
    (if (rowLimit >= 0) df.limit(rowLimit) else df).collect().toSeq
  }

  // -------------------------------------------------------------------
  // Materialization core
  // -------------------------------------------------------------------

  private def registerTemp(table: TableRef): Unit =
    if (table.temp) tempTables += table.qualifiedName.toLowerCase

  /** Replace `table` with `df`'s result via write-new-swap-pointer.
    *
    * Crash-consistency note: the swap is drop-then-create, so a JVM death
    * between the two catalog calls leaves the table entry missing — but
    * the new data is already durable at `dest` and the old data untouched
    * at its previous path, so nothing is lost and re-running the operator
    * repairs the catalog. A production lake would make the final step a
    * single atomic pointer rename (Iceberg/Delta commit); Spark's built-in
    * catalog has no such primitive for external parquet tables. */
  private def replaceTable(df: DataFrame, table: TableRef): Unit = {
    val qn = table.qualifiedName
    val dest = newStoragePath(table.name)
    df.write.mode(SaveMode.Overwrite).parquet(dest)
    val oldPath = tablePaths.get(qn.toLowerCase)
    if (spark.catalog.tableExists(qn)) spark.sql(s"DROP TABLE IF EXISTS $qn")
    spark.catalog.createTable(qn, dest)
    tablePaths(qn.toLowerCase) = dest
    oldPath.foreach(p => hadoopFs(new Path(p)).delete(new Path(p), true))
    registerTemp(table)
  }

  /** Append `df` to `table` (created if missing), by-name with missing
    * columns as NULL — the semantics of INSERT INTO (cols) SELECT
    * (databases/base.py:666-696). */
  private def appendToTable(df: DataFrame, table: TableRef): Unit = {
    val qn = table.qualifiedName
    if (!spark.catalog.tableExists(qn)) { replaceTable(df, table); return }
    val tgtCols = spark.table(qn).columns
    val haveLower = df.columns.map(_.toLowerCase).toSet
    val aligned = df.select(tgtCols.toIndexedSeq.map { c =>
      if (haveLower.contains(c.toLowerCase)) col(c) else lit(null).as(c)
    }: _*)
    aligned.write.mode(SaveMode.Append).insertInto(qn)
  }

  def writeTable(df: DataFrame, table: TableRef, ifExists: IfExists): Unit = ifExists match {
    case IfExists.Replace => replaceTable(df, table)
    case IfExists.Append  => appendToTable(df, table)
  }

  /** Replace `table` with a hive-style partitioned layout (same staged
    * swap-pointer write). Filters on `partitionCols` then prune whole
    * directories at scan time — the layout a 100 TB date-partitioned fact
    * table needs. */
  def writeTablePartitioned(df: DataFrame, table: TableRef, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must be non-empty")
    val qn = table.qualifiedName
    val dest = newStoragePath(table.name)
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(dest)
    val oldPath = tablePaths.get(qn.toLowerCase)
    if (spark.catalog.tableExists(qn)) spark.sql(s"DROP TABLE IF EXISTS $qn")
    spark.catalog.createTable(qn, dest)
    spark.catalog.recoverPartitions(qn)
    tablePaths(qn.toLowerCase) = dest
    oldPath.foreach(p => hadoopFs(new Path(p)).delete(new Path(p), true))
    registerTemp(table)
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present in
    * `df`, leaving every other partition untouched — the production
    * incremental-load pattern for a date-partitioned 100 TB fact table
    * (a daily backfill rewrites one day's directory, not the table).
    * Implemented with Spark's dynamic `partitionOverwriteMode` on
    * `insertInto`; the conf is set around the write and restored, so the
    * session default is unaffected. Columns are aligned by NAME to the
    * table's schema order before the (position-based) insertInto. */
  def overwritePartitions(df: DataFrame, table: TableRef): Unit = {
    val qn = table.qualifiedName
    require(spark.catalog.tableExists(qn), s"overwritePartitions: $qn does not exist")
    // On an UNpartitioned table, dynamic overwrite mode + SaveMode.Overwrite
    // degenerates to a full-table replace — silently violating the
    // "replace only the partitions present in df" contract. Fail loudly.
    require(
      spark.catalog.listColumns(qn).collect().exists(_.isPartition),
      s"overwritePartitions: $qn has no partition columns — a dynamic " +
        "overwrite would silently replace the whole table; use writeTable instead")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      val tgtCols = spark.table(qn).columns
      df.select(tgtCols.toIndexedSeq.map(col): _*)
        .write.mode(SaveMode.Overwrite).insertInto(qn)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    logOp("overwrite_partitions", Seq.empty, Seq(qn))
  }

  // -------------------------------------------------------------------
  // load_file (sql/operators/load_file.py:37-407)
  // -------------------------------------------------------------------

  /** Schema-inference parity with the reference's sampling knobs
    * (databases/base.py:438-441 "only the first file is used for
    * inferring"; settings.py:67-69 LOAD_TABLE_AUTODETECT_ROWS_COUNT =
    * 1000): infer the schema from at most `rows` rows of the FIRST file
    * matching `file`, instead of Spark's scan-everything default. On a
    * ragged multi-file load this pins the reference's semantics (later
    * files are cast to the first file's shape); it also bounds inference
    * cost — one small file read instead of a full pre-pass over 100 TB. */
  def inferSchemaFromFirstFile(
      file: FileRef,
      rows: Int = 1000): org.apache.spark.sql.types.StructType = {
    val resolved =
      if (graft.io.RemoteFetch.isRemote(file.path))
        file.copy(path = graft.io.RemoteFetch.fetch(spark, file.path))
      else file
    val first = getFileList(resolved.path).sorted.headOption.getOrElse(resolved.path)
    val fmt = resolved.resolvedFormat
    fmt match {
      case FileFormat.Csv =>
        // header + first `rows` data lines, inferred from that sample only
        val lines = spark.read.textFile(first).limit(rows + 1)
        spark.read.option("header", "true").option("inferSchema", "true")
          .options(resolved.options).csv(lines).schema
      case FileFormat.Ndjson =>
        val lines = spark.read.textFile(first).limit(rows)
        spark.read.options(resolved.options).json(lines).schema
      case FileFormat.Json =>
        // whole-document JSON: one document = one schema; row knob is moot
        spark.read.option("multiLine", "true").options(resolved.options).json(first).schema
      case _ =>
        // self-describing formats read the footer, not the data
        spark.read.format(fmt.sparkFormat).options(resolved.options).load(first).schema
    }
  }

  /** Read file(s) into a DataFrame. The reference's per-location smart_open
    * streams + pandas readers (databases/base.py:566-589) collapse into
    * Spark's distributed reader; glob/pattern paths are native.
    *
    * @param ndjsonNormalizeSep when the source is (ND)JSON, flatten nested
    *        structs with this separator, reproducing json_normalize names
    *        (files/types/ndjson.py:54-96). Pass None to keep nesting —
    *        the Spark-native (and more scalable) representation.
    * @param includeFileName expose the source file path as a
    *        `metadata_filename` column — the Spark rendering of the
    *        reference's METADATA$FILENAME load option
    *        (databases/snowflake.py:264-270).
    * @param inferFromFirstFileOnly sample the schema from the first file
    *        only (see [[inferSchemaFromFirstFile]]); ignored when an
    *        explicit `schema` is given.
    * @param columns column subset to load (PandasLoadOptions.columns,
    *        options.py:6-111) — expressed as a `select`, so Catalyst
    *        prunes the scan to exactly these columns (the parquet/orc
    *        reader never materializes the rest).
    * @param dtype per-column cast overrides (PandasLoadOptions.dtype) —
    *        Spark SQL type names, e.g. "bigint", "double", "string".
    */
  def readFile(
      file: FileRef,
      ndjsonNormalizeSep: Option[String] = Some("_"),
      capitalization: ColumnsCapitalization = ColumnsCapitalization.Original,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      includeFileName: Boolean = false,
      inferFromFirstFileOnly: Boolean = false,
      autodetectRowsCount: Int = 1000,
      columns: Seq[String] = Nil,
      dtype: Map[String, String] = Map.empty): DataFrame = {
    // http(s)/ftp URLs: driver-side stream to a temp location the
    // executors can read — local temp on local[*], the shared Hadoop FS on
    // a cluster — then the distributed reader takes over
    // (files/locations/http.py parity — SURVEY §2.1). Hadoop-FS schemes
    // (s3a/gs/wasbs/file) pass straight through and stay fully parallel.
    val resolved =
      if (graft.io.RemoteFetch.isRemote(file.path))
        file.copy(path = graft.io.RemoteFetch.fetch(spark, file.path))
      else file
    val fmt = resolved.resolvedFormat
    def postProcess(df0: DataFrame): DataFrame = {
      var df = df0
      if (columns.nonEmpty) df = df.select(columns.map(col): _*)
      dtype.foreach { case (c, t) => df = df.withColumn(c, col(c).cast(t)) }
      df
    }
    if (fmt == FileFormat.Xlsx || fmt == FileFormat.Xls) {
      // pattern paths expand like every other format
      // (resolve_file_path_pattern parity); Excel is a driver-side
      // single-file format, so each match reads through its local path
      // form and the sheets union by column name
      val paths =
        if (resolved.path.exists(c => "*?[{".contains(c))) {
          val expanded = getFileList(resolved.path)
            .map(p => new Path(p).toUri.getPath).sorted
          require(expanded.nonEmpty, s"${resolved.path}: no files match the pattern")
          expanded
        } else Seq(resolved.path)
      def readOne(p: String) =
        if (fmt == FileFormat.Xlsx) graft.io.Excel.readXlsx(spark, p)
        else graft.io.ExcelBiff.readXls(spark, p)
      val df = paths.map(readOne).reduce(_.unionByName(_, allowMissingColumns = true))
      return postProcess(
        Flatten.applyCapitalization(Flatten.replaceIllegalColumnChars(df), capitalization))
    }
    val effSchema = schema.orElse(
      if (inferFromFirstFileOnly) Some(inferSchemaFromFirstFile(resolved, autodetectRowsCount))
      else None)
    var reader = spark.read.format(fmt.sparkFormat)
    effSchema.foreach(s => reader = reader.schema(s))
    fmt match {
      case FileFormat.Csv =>
        reader = reader.option("header", "true")
        if (effSchema.isEmpty) reader = reader.option("inferSchema", "true")
      case FileFormat.Json =>
        reader = reader.option("multiLine", "true")
      case FileFormat.Xml =>
        // match the writer's default element names so a graft-written
        // file reads back without configuration; user options still win
        reader = reader.option("rowTag", "ROW")
      case _ => ()
    }
    reader = reader.options(resolved.options) // user options win
    var df = reader.load(resolved.path)
    if (includeFileName) df = df.withColumn("metadata_filename", input_file_name())
    val isJson = fmt == FileFormat.Json || fmt == FileFormat.Ndjson
    if (isJson) ndjsonNormalizeSep.foreach { sep => df = Flatten.flatten(df, sep) }
    df = Flatten.replaceIllegalColumnChars(df)
    postProcess(Flatten.applyCapitalization(df, capitalization))
  }

  /** load_file: file(s) → table; or → DataFrame when no output table, like
    * the reference's "no output_table → dataframe" branch
    * (load_file.py:133-138). */
  def loadFile(
      file: FileRef,
      outputTable: Option[TableRef] = None,
      ifExists: IfExists = IfExists.Replace,
      ndjsonNormalizeSep: Option[String] = Some("_"),
      capitalization: ColumnsCapitalization = ColumnsCapitalization.Original,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      includeFileName: Boolean = false,
      inferFromFirstFileOnly: Boolean = false,
      autodetectRowsCount: Int = 1000,
      columns: Seq[String] = Nil,
      dtype: Map[String, String] = Map.empty): DataFrame = {
    val df = readFile(file, ndjsonNormalizeSep, capitalization, schema,
      includeFileName, inferFromFirstFileOnly, autodetectRowsCount, columns, dtype)
    logOp("load_file", Seq(file.path), outputTable.map(_.qualifiedName).toSeq)
    outputTable match {
      case None => df
      case Some(t) =>
        writeTable(df, t, ifExists)
        spark.table(t.qualifiedName)
    }
  }

  /** get_file_list (files/operators/files.py:13-43): Hadoop glob/list. */
  def getFileList(pathOrGlob: String): Seq[String] = {
    // URL locations cannot be listed; the reference returns the path itself
    // (files/locations/http.py paths property).
    if (graft.io.RemoteFetch.isRemote(pathOrGlob)) return Seq(pathOrGlob)
    val p = new Path(pathOrGlob)
    val fs = hadoopFs(p)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    matches.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.map(_.getPath.toString)
      else Seq(st.getPath.toString)
    }
  }

  // -------------------------------------------------------------------
  // export_to_file (sql/operators/export_to_file.py:18-183)
  // -------------------------------------------------------------------

  /** Table/DataFrame → file. The reference writes a *single* stream object
    * (files/types/ csv|json|… create_from_dataframe); `singleFile=true` matches that
    * (coalesce(1) + rename). For cluster-scale exports pass
    * `singleFile=false` and get a standard parquet/csv directory. */
  def exportToFile(
      input: DataFrame,
      output: FileRef,
      ifExists: IfExists = IfExists.Replace,
      singleFile: Boolean = true): String = {
    val fmt = output.resolvedFormat
    if (fmt == FileFormat.Xlsx || fmt == FileFormat.Xls) {
      // Excel is single-file by nature; Append follows the same
      // read-back-and-rewrite semantics as the csv/json single-file path
      // (it used to silently overwrite).
      val outPath = new Path(output.path)
      val toWrite =
        if (ifExists == IfExists.Append && hadoopFs(outPath).exists(outPath)) {
          val existing =
            if (fmt == FileFormat.Xlsx) graft.io.Excel.readXlsx(spark, output.path)
            else graft.io.ExcelBiff.readXls(spark, output.path)
          existing.unionByName(input)
        } else input
      if (fmt == FileFormat.Xlsx) graft.io.Excel.writeXlsx(toWrite, output.path)
      else graft.io.ExcelBiff.writeXls(toWrite, output.path)
      return output.path
    }
    val mode = ifExists match {
      case IfExists.Replace => SaveMode.Overwrite
      case IfExists.Append  => SaveMode.Append
    }
    if (!singleFile) {
      var w = input.write.mode(mode).format(fmt.sparkFormat).options(output.options)
      if (fmt == FileFormat.Csv) w = w.option("header", "true")
      if (fmt == FileFormat.Xml && !output.options.contains("rowTag")) w = w.option("rowTag", "ROW")
      w.save(output.path)
      output.path
    } else {
      val outPath = new Path(output.path)
      val fs = hadoopFs(outPath)
      // Append to a single file = read the existing file back and rewrite
      // the union; without this the rename below would silently replace the
      // old contents with only the new rows. Repeated single-file appends
      // are therefore O(n²) in total bytes rewritten — fine for the
      // report-sized exports the mode exists for, wrong for a growing
      // dataset. The guard below fails fast once the existing file passes
      // `spark.graft.singleFileAppendMaxBytes` (default 1 GiB) instead of
      // silently rewriting ever-larger files; raise the conf or use
      // directory mode (`singleFile=false`) for large appends.
      val toWrite =
        if (mode == SaveMode.Append && fs.exists(outPath)) {
          val maxBytes = spark.conf
            .getOption("spark.graft.singleFileAppendMaxBytes")
            .map(_.toLong).getOrElse(1L << 30)
          val existing = fs.getFileStatus(outPath).getLen
          if (existing > maxBytes)
            throw new IllegalStateException(
              s"single-file append would rewrite ${existing} bytes of ${output.path} " +
                s"(limit $maxBytes; each such append rewrites the whole file — O(n²) " +
                "as it grows). Use exportToFile(..., singleFile = false) for a " +
                "directory-mode append, or raise spark.graft.singleFileAppendMaxBytes.")
          var r = spark.read.format(fmt.sparkFormat).schema(input.schema)
            .options(output.options)
          if (fmt == FileFormat.Csv) r = r.option("header", "true")
          if (fmt == FileFormat.Xml && !output.options.contains("rowTag")) r = r.option("rowTag", "ROW")
          r.load(output.path).unionByName(input)
        } else input
      val tmp = new Path(output.path + "_graft_tmp_" + java.util.UUID.randomUUID().toString.take(8))
      var w = toWrite.coalesce(1).write.mode(SaveMode.Overwrite)
        .format(fmt.sparkFormat).options(output.options)
      if (fmt == FileFormat.Csv) w = w.option("header", "true")
      if (fmt == FileFormat.Xml && !output.options.contains("rowTag")) w = w.option("rowTag", "ROW")
      w.save(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-"))
        .getOrElse(throw new IllegalStateException(s"no part file under $tmp"))
      if (fs.exists(outPath)) fs.delete(outPath, true)
      fs.rename(part, outPath)
      fs.delete(tmp, true)
      output.path
    }
  }

  /** Deprecated alias parity (sql/operators/export_file.py:1-85). */
  @deprecated("use exportToFile", "0.2")
  def exportFile(input: DataFrame, output: FileRef,
      ifExists: IfExists = IfExists.Replace, singleFile: Boolean = true): String =
    exportToFile(input, output, ifExists, singleFile)

  /** Deprecated alias parity (sql/operators/export_table_to_file.py:1-84). */
  @deprecated("use exportToFile", "0.2")
  def exportTableToFile(table: TableRef, output: FileRef,
      ifExists: IfExists = IfExists.Replace, singleFile: Boolean = true): String =
    exportToFile(spark.table(table.qualifiedName), output, ifExists, singleFile)

  /** "exception" if_exists variant of export (export_to_file.py). */
  def exportToFileStrict(input: DataFrame, output: FileRef): String = {
    val p = new Path(output.path)
    if (hadoopFs(p).exists(p))
      throw new IllegalStateException(s"${output.path} already exists")
    exportToFile(input, output, IfExists.Replace)
  }

  // -------------------------------------------------------------------
  // transform / run_raw_sql / get_value_list (sql/operators/transform.py,
  // raw_sql.py, sql/__init__.py:53-79)
  // -------------------------------------------------------------------

  /** Render `{{name}}` bindings and run the SQL lazily. A `DataFrame`
    * bound to a placeholder is auto-registered as a temp view and renders
    * as its name — the reference materializes dataframe args into temp
    * tables before rendering (base_decorator.py:369-417); a lazy view is
    * the Spark-native equivalent (no copy, full pushdown through it).
    *
    * `dialect` ("spark" default; "postgres", "redshift", "snowflake",
    * "bigquery", "mssql" — one per warehouse the reference SDK
    * supported) translates the rendered SQL through
    * [[graft.sql.SqlDialect]] first — the reference passed dialect SQL
    * straight to the warehouse engine (transform.py:55-72), so users
    * bringing warehouse-flavored queries get the common forms (::casts,
    * ~ regex ops incl. (?i) case-insensitivity, E'...' escape strings,
    * "quoted"/[bracket] idents, TOP n, to_char, boundary-counting
    * DATEDIFF, …) mapped to Spark SQL instead of a parse error. */
  def sql(template: String, bindings: Map[String, Any] = Map.empty,
      dialect: String = "spark"): DataFrame = {
    val resolved: Map[String, Any] = bindings.map {
      case (k, ds: org.apache.spark.sql.Dataset[_]) =>
        val ref = TableRef.temp()
        ds.toDF().createOrReplaceTempView(ref.name)
        k -> ref
      case kv => kv
    }
    spark.sql(SqlDialect.toSparkSql(SqlTemplate.render(template, resolved), dialect))
  }

  /** Run `body` bracketed by a [[QueryModifier]]'s pre/post statements
    * (query_modifier.py:7-29 parity — session variables etc.). */
  def withQueryModifier[T](qm: QueryModifier)(body: => T): T = {
    qm.preQueries.foreach(q => spark.sql(q).collect())
    try body
    finally qm.postQueries.foreach(q => spark.sql(q).collect())
  }

  /** transform: render → CTAS into `output` (auto temp if none), parity
    * with TransformOperator.execute (transform.py:55-72): DROP + CREATE
    * TABLE AS, returning the output ref for chaining. The swap-pointer
    * write makes self-referencing transforms safe. */
  def transform(
      sqlTemplate: String,
      bindings: Map[String, Any] = Map.empty,
      output: Option[TableRef] = None,
      dialect: String = "spark"): TableRef = {
    val out = output.getOrElse(TableRef.temp())
    val df = sql(sqlTemplate, bindings, dialect)
    replaceTable(df, out)
    logOp("transform",
      bindings.values.collect { case t: TableRef => t.qualifiedName }.toSeq,
      Seq(out.qualifiedName))
    out
  }

  /** transform_file (transform.py:145-191): SQL read from a file.
    * `dialect` passes through to [[transform]] — this is the surface
    * where users ship verbatim warehouse-dialect `.sql` files, so a
    * Postgres/Snowflake/…-flavored file translates exactly like the
    * same SQL passed inline. */
  def transformFile(
      path: String,
      bindings: Map[String, Any] = Map.empty,
      output: Option[TableRef] = None,
      dialect: String = "spark"): TableRef = {
    val template = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    transform(template, bindings, output, dialect)
  }

  /** Lazy variant of transform: just the DataFrame, no materialization —
    * the Spark-idiomatic fast path (SURVEY §3.2). */
  def transformLazy(sqlTemplate: String, bindings: Map[String, Any] = Map.empty,
      dialect: String = "spark"): DataFrame =
    sql(sqlTemplate, bindings, dialect)

  /** run_raw_sql (raw_sql.py:25-234): arbitrary SQL; `failOnEmpty` and
    * `responseSize` (row-truncation) parity. Returns collected rows. */
  def runRawSql(
      sqlTemplate: String,
      bindings: Map[String, Any] = Map.empty,
      failOnEmpty: Boolean = false,
      responseSize: Int = -1): Seq[Row] = {
    val df = sql(sqlTemplate, bindings)
    val rows = (if (responseSize >= 0) df.limit(responseSize) else df).collect().toSeq
    if (failOnEmpty && rows.isEmpty)
      throw new IllegalStateException("run_raw_sql returned no rows (fail_on_empty)")
    rows
  }

  /** run_raw_sql with a result handler (raw_sql.py `handler` param): the
    * collected rows are passed through `handler` and its result returned. */
  def runRawSqlWith[T](
      sqlTemplate: String,
      bindings: Map[String, Any] = Map.empty,
      failOnEmpty: Boolean = false,
      responseSize: Int = -1)(handler: Seq[Row] => T): T =
    handler(runRawSql(sqlTemplate, bindings, failOnEmpty, responseSize))

  /** run_raw_sql with `results_format="pandas_dataframe"` parity
    * (raw_sql.py:46-78): the result stays a (lazy) DataFrame. */
  def runRawSqlDf(
      sqlTemplate: String,
      bindings: Map[String, Any] = Map.empty,
      failOnEmpty: Boolean = false): DataFrame = {
    val df = sql(sqlTemplate, bindings)
    if (failOnEmpty && df.isEmpty)
      throw new IllegalStateException("run_raw_sql returned no rows (fail_on_empty)")
    df
  }

  /** get_value_list (sql/__init__.py:53-79). `maxMapLength` mirrors the
    * reference's XCom `max_map_length` bound: exceeding it raises instead
    * of silently flooding the driver. Pass -1 for unbounded. */
  def getValueList(
      sqlTemplate: String,
      bindings: Map[String, Any] = Map.empty,
      maxMapLength: Int = -1): Seq[Row] = {
    val df = sql(sqlTemplate, bindings)
    if (maxMapLength < 0) df.collect().toSeq
    else {
      val rows = df.limit(maxMapLength + 1).collect().toSeq
      if (rows.size > maxMapLength)
        throw new IllegalStateException(
          s"get_value_list returned more than max_map_length=$maxMapLength rows")
      rows
    }
  }

  // -------------------------------------------------------------------
  // append / merge / drop / cleanup (sql/operators/{append,merge,drop,cleanup}.py)
  // -------------------------------------------------------------------

  /** append: INSERT INTO target (cols) SELECT cols FROM source
    * (append.py:15-176; SQL gen databases/base.py:666-696).
    * `columns` maps source→target names; empty = all columns by name. */
  def append(
      source: TableRef,
      target: TableRef,
      columns: Seq[(String, String)] = Nil): TableRef = {
    val src = spark.table(source.qualifiedName)
    val projected =
      if (columns.isEmpty) src
      else src.select(columns.map { case (s, t) => col(s).as(t) }: _*)
    appendToTable(projected, target)
    logOp("append", Seq(source.qualifiedName), Seq(target.qualifiedName))
    target
  }

  /** merge: upsert source→target on conflict keys, 3 strategies — see
    * [[graft.ops.Merge]] for the plan construction. Target table is
    * atomically replaced with the merged result (swap-pointer). */
  def merge(
      source: TableRef,
      target: TableRef,
      columns: Seq[(String, String)],
      targetConflictColumns: Seq[String],
      ifConflicts: ConflictStrategy): TableRef = {
    val merged = Merge.mergePlan(
      spark.table(source.qualifiedName),
      spark.table(target.qualifiedName),
      columns, targetConflictColumns, ifConflicts)
    // conflict validation rides the merge plan itself (one job, no eager
    // pre-scan); surface its raise_error as the typed exception — the
    // swap-pointer write only commits if the job succeeded
    Merge.surfacingConflicts { replaceTable(merged, target) }
    logOp("merge", Seq(source.qualifiedName), Seq(target.qualifiedName))
    target
  }

  /** Type-2 slowly-changing-dimension merge ([[graft.ops.Scd2]]): apply
    * `source` to the versioned dimension `target` at `effectiveDate` —
    * changed keys close their current row and append a new version, new
    * keys insert, history never rewrites. The staged swap-pointer write
    * makes the self-referencing plan (new state reads old state) safe,
    * and duplicate source keys surface as the typed merge conflict via
    * the same in-plan raise_error discipline. */
  def scd2Merge(
      source: TableRef,
      target: TableRef,
      keyCols: Seq[String],
      compareCols: Seq[String],
      effectiveDate: String): TableRef = {
    val next = graft.ops.Scd2.scd2Plan(
      spark.table(target.qualifiedName),
      spark.table(source.qualifiedName),
      keyCols, compareCols, lit(effectiveDate))
    Merge.surfacingConflicts { replaceTable(next, target) }
    logOp("scd2_merge", Seq(source.qualifiedName), Seq(target.qualifiedName))
    target
  }

  /** drop_table (sql/operators/drop.py:14-51). */
  def dropTable(table: TableRef): Unit = {
    val qn = table.qualifiedName
    spark.sql(s"DROP TABLE IF EXISTS $qn")
    tablePaths.remove(qn.toLowerCase).foreach { p =>
      hadoopFs(new Path(p)).delete(new Path(p), true)
    }
    tempTables -= qn.toLowerCase
    logOp("drop_table", Seq(qn), Nil)
  }

  /** cleanup (sql/operators/cleanup.py:55-301): drop every temp table this
    * session created. No XCom walk needed — we own the registry.
    * `skipOnFailure` (cleanup.py parity): a failing drop is recorded and
    * skipped instead of aborting the remaining GC. */
  def cleanup(skipOnFailure: Boolean = false): Seq[String] = {
    val dropped = Seq.newBuilder[String]
    val failed = Seq.newBuilder[String]
    tempTables.toSeq.foreach { n =>
      try { dropTable(TableRef(n)); dropped += n }
      catch {
        case e: Exception if skipOnFailure =>
          failed += n
          logOp("cleanup_skip_failed", Seq(n), Nil)
      }
    }
    tempTables.clear()
    tempTables ++= failed.result() // keep failures registered for a retry
    dropped.result()
  }

  def registeredTempTables: Seq[String] = tempTables.toSeq

  // -------------------------------------------------------------------
  // dataframe op (sql/operators/dataframe.py:29-343)
  // -------------------------------------------------------------------

  /** The `@dataframe` bridge: in Spark the function simply receives the
    * lazy DataFrame — no export-to-pandas scale ceiling (the reference
    * pulls the whole table to one worker, delta.py:307-311). */
  def dataframeOp(
      input: TableRef,
      fn: DataFrame => DataFrame,
      output: Option[TableRef] = None,
      ifExists: IfExists = IfExists.Replace,
      capitalization: ColumnsCapitalization = ColumnsCapitalization.Original): DataFrame = {
    val result0 = fn(spark.table(input.qualifiedName))
    val result = Flatten.applyCapitalization(result0, capitalization)
    output match {
      case None => result
      case Some(t) =>
        writeTable(result, t, ifExists)
        spark.table(t.qualifiedName)
    }
  }
}

object GraftSession {
  /** One recorded operator invocation (inputs/outputs as URIs/names). */
  final case class OpLogEntry(op: String, inputs: Seq[String], outputs: Seq[String])

  def apply(spark: SparkSession): GraftSession = new GraftSession(spark)

  /** Settings that must be in place before the session starts; the graft
    * sessions and the test session apply them, and a user building their
    * own session adds them to its builder.
    *
    * The `file:` routes send `FileSystem.get` and `FileContext` alike
    * through [[graft.io.LocalFs]] (no `chmod`/`readlink` child process per
    * local file).
    *
    * Artifact isolation is off. Graft adds no artifact (no `addArtifact`,
    * no `addJar`), so all isolation did was give every stream run its own
    * executor classloader, and with it a recompile of every class the
    * stream generates: `CodeGenerator.compile` caches by (the thread's
    * context classloader, the source); each `StreamExecution` runs on a
    * `cloneSession()` with a new session UUID; with isolation on, the
    * clone's tasks carry that UUID as their `JobArtifactState`, and the
    * executor builds a new `IsolatedSessionState`, a new
    * `MutableURLClassLoader`, for it. Each dead loader then stayed pinned
    * by the codegen cache and the executor's isolated-state cache. */
  val staticConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[LocalFs.FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[LocalFs.Fs].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Local-mode builder with the settings this engine assumes (UTC, AQE,
    * shuffle partitions sized to cores — not the 200 default). */
  def localSpark(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the Verify/Bench surface (~220 queries × ~10 generated classes
      // each) overflows the 100-entry generated-class cache, so a later
      // pass re-compiles (and re-JITs) evicted classes and measures
      // janino, not the query. 2000 sat right at the edge: crossing it
      // re-priced the heaviest-codegen query (p_dedup_simhash_portable)
      // at 2×. Static conf: must be set before the session starts.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // The cache is keyed by the generated source, and a whole-stage
      // class is named after its codegen stage id. AQE numbers stages in
      // the order it creates them, which for concurrent branches (the
      // distinct counts of check_column) is the order their inputs
      // finish: the same stage got id 6 in one call and 7 in the next,
      // and a warm call compiled again. Unnumbered names keep the source,
      // and so the cache key, the same; plans still show the ids.
      .config("spark.sql.codegen.useIdInClassName", "false")
      // InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
      // under every explode, and predicate pushdown then substitutes the
      // generator's WHOLE input expression into the scan-stage filter —
      // for the gram/shingle lambdas that means tokenizing every
      // document twice more in the (few-task) scan stage before the
      // repartition can spread the work (measured: the incremental-dedup
      // banding spent 8 s CPU in a 2-task scan stage on a 584 KB input).
      // The rule only ever prunes rows whose generator input is
      // empty/null — a row class our corpora don't produce — so
      // excluding it is semantics-free here and removes the duplicated
      // evaluation everywhere at once.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // AQE coalescing floors post-shuffle partitions at 1 MB, which
      // serializes compute-dense byte-small stages (per-column distinct
      // aggregates, candidate-pair relations) into 1-2 tasks. Bytes are a
      // poor proxy for compute density at these sizes; a 64k floor keeps
      // parallelismFirst semantics down to tiny shuffles. Scale-safe: the
      // floor only binds when a WHOLE shuffle is under ~2 MB/core — at
      // production sizes it is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config(staticConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
