package graft.sqlapi

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable

/** SQL utility surface: EXPLAIN styles, PREPARE/EXECUTE/DEALLOCATE, and
  * engine introspection (reference: src/hooks/utility and src/api modules).
  */
object SqlApi {

  // ------------------------------------------------------------ EXPLAIN
  /** Two explain styles, mirroring `EXPLAIN (STYLE pg|duckdb)` (reference:
    * src/hooks/utility/explain.rs:39-155): "pg" → one-line scan summary
    * (+ wall-clock when analyze), "duckdb" → the engine's full plan
    * (Spark formatted mode; analyze adds timing). Analyze also reports the
    * generated classes compiled while the query ran and their Janino time
    * (`Codegen: <n> classes compiled in <ms> ms`); a query shape whose
    * classes are still in Spark's codegen cache compiles none. The count is
    * JVM-wide: a query running concurrently in the same JVM adds its own. */
  def explain(spark: SparkSession, sql: String, style: String = "pg",
      analyze: Boolean = false): String = {
    val df = spark.sql(sql)
    val timing =
      if (analyze) {
        // materialize through the noop sink, exactly like Bench.run — the
        // wall-clock must time THE query's plan. (A count() here lets
        // Catalyst collapse the projection; with parquet aggregate pushdown
        // a SELECT * analyze would reduce to footer metadata and report
        // microseconds for a scan of gigabytes.)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val ms = (System.nanoTime() - t0) / 1e6
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
        f"%nExecution Time: $ms%.3f ms%nCodegen: $compiles classes compiled in $compileMs%.3f ms"
      } else ""
    // pg style prints the one-line scan summary only for SELECT statements —
    // the reference emits `DuckDB Scan:` only on the pushdown (SELECT) path
    // and falls through to the normal plan otherwise (explain.rs:39-155).
    val isSelect = {
      val t = sql.trim.toLowerCase
      t.startsWith("select") || t.startsWith("with") || t.startsWith("values") || t.startsWith("(")
    }
    style.toLowerCase match {
      case "pg" | "postgres" if isSelect => s"Engine Scan: ${sql.trim}$timing"
      case "pg" | "postgres" =>
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode) + timing
      case "duckdb" | "engine" | "formatted" =>
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode) + timing
      case other => throw new IllegalArgumentException(
        s"unrecognized EXPLAIN style `$other`; valid: pg, postgres, duckdb")
    }
  }

  // ------------------------------------- PREPARE / EXECUTE / DEALLOCATE
  /** Session-scoped prepared-statement registry (reference:
    * src/hooks/utility/prepare.rs:27-119). Statements are stored as SQL
    * text and re-planned at EXECUTE, so name resolution tracks the current
    * catalog state — the reference's replan-on-search_path-change semantics
    * (tests/tests/scan.rs:600-650). $1-style parameters are rewritten to
    * Spark positional markers. */
  final class PreparedStatements {
    private val stmts = mutable.Map[String, String]()

    final case class NoSuchStatement(name: String) extends IllegalArgumentException(
      s"prepared statement `$name` does not exist")

    def prepare(name: String, sql: String): Unit = stmts(name) = sql

    def execute(spark: SparkSession, name: String, args: Seq[Any] = Seq.empty): DataFrame =
      executeRewritten(spark, name, args, identity)

    /** Execute with a final-SQL hook — executePg routes EXECUTE through the
      * dialect rewrite so PG-isms in prepared bodies (quoted identifiers,
      * `::` casts) normalize exactly like direct statements. */
    def executeRewritten(spark: SparkSession, name: String, args: Seq[Any],
        finish: String => String): DataFrame = {
      val sql = stmts.getOrElse(name, throw NoSuchStatement(name))
      // $n binds by PARAMETER INDEX, not textual position (reference semantics:
      // src/hooks/utility/prepare.rs:27-108): `WHERE a = $2 AND b = $1` takes
      // args(1) then args(0). Rewrite each marker to `?` in textual order and
      // reorder args to match. The scan is quote-aware: a `$5` inside a string
      // literal ('price: $5') stays literal text, as in PG PREPARE.
      val markers = "\\$(\\d+)".r
      val segs = PgDialect.segments(sql)
      val indices = segs.flatMap { case (seg, quoted) =>
        if (quoted) Seq.empty else markers.findAllMatchIn(seg).map(_.group(1).toInt).toSeq
      }
      val positional = segs.map { case (seg, quoted) =>
        if (quoted) seg else markers.replaceAllIn(seg, "?")
      }.mkString
      val finished = finish(positional)
      if (indices.isEmpty) spark.sql(finished)
      else {
        indices.find(i => i < 1 || i > args.length).foreach { i =>
          throw new IllegalArgumentException(
            s"prepared statement `$name` references $$$i but only ${args.length} argument(s) given")
        }
        spark.sql(finished, indices.map(i => args(i - 1)).toArray[Any])
      }
    }

    def deallocate(name: String): Unit =
      if (stmts.remove(name).isEmpty) throw NoSuchStatement(name)

    def deallocateAll(): Unit = stmts.clear()
    def names: Seq[String] = stmts.keys.toSeq.sorted
  }

  def newPreparedRegistry(): PreparedStatements = new PreparedStatements

  // ------------------------------------------------------- introspection
  /** Engine settings as a table (reference: duckdb_settings(),
    * src/api/duckdb.rs:33-66). */
  def settings(spark: SparkSession): DataFrame = {
    val rows = spark.conf.getAll.toSeq.sortBy(_._1).map { case (k, v) =>
      Row(k, v, "", "VARCHAR", "GLOBAL")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("name", StringType), StructField("value", StringType),
        StructField("description", StringType), StructField("input_type", StringType),
        StructField("scope", StringType))))
  }

  /** Registered formats and their availability (reference:
    * duckdb_extensions(), src/api/duckdb.rs:70-124). */
  def extensions(spark: SparkSession): DataFrame = {
    val rows = graft.catalog.Formats.all.values.toSeq.sortBy(_.name).map { f =>
      Row(f.name, f.available, f.validOptions.toSeq.sorted.mkString(","))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("extension_name", StringType), StructField("loaded", BooleanType),
        StructField("options", StringType))))
  }

  /** Physical parquet footer schema (reference: parquet_schema(),
    * src/api/parquet.rs:74-146): one row per leaf with physical type,
    * repetition, logical type, precision/scale, field id. Reads footers via
    * parquet-hadoop (on the Spark classpath). */
  def parquetSchema(spark: SparkSession, path: String): DataFrame =
    footerFrame(spark, parquetFiles(spark, path, "parquet_schema"))

  /** The file at `path`, or every `.parquet` file under the directory —
    * RECURSIVELY: hive-partitioned layouts keep their files in key=value
    * subdirectories, and a shallow listing would return zero rows, the one
    * failure shape introspection must not have. `fn` names the caller in
    * the error for a directory holding none. */
  private def parquetFiles(spark: SparkSession, path: String,
      fn: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(new Path(path)).isDirectory) return Seq(new Path(path))
    val it = fs.listFiles(new Path(path), true)
    val b = Seq.newBuilder[Path]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) b += st.getPath
    }
    val found = b.result()
    if (found.isEmpty) throw new IllegalArgumentException(
      s"$fn: no .parquet files under `$path` (searched recursively)")
    found
  }

  /** One driver loop over footers → one DataFrame: O(files) metadata reads
    * with a flat O(1) plan, never a per-file plan-tree union. */
  private def footerFrame(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val rows = files.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        import scala.jdk.CollectionConverters._
        schema.getColumns.asScala.map { cd =>
          val pt = cd.getPrimitiveType
          Row(
            p.toString,
            cd.getPath.mkString("."),
            pt.getPrimitiveTypeName.toString,
            pt.getRepetition.toString,
            Option(pt.getLogicalTypeAnnotation).map(_.toString).orNull,
            if (pt.getDecimalMetadata != null) pt.getDecimalMetadata.getScale else 0,
            if (pt.getDecimalMetadata != null) pt.getDecimalMetadata.getPrecision else 0,
            pt.getId match { case null => null; case id => id.intValue() })
        }
      } finally reader.close()
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), footerSchema)
  }

  private val footerSchema = StructType(Seq(
    StructField("file_name", StringType), StructField("name", StringType),
    StructField("type", StringType), StructField("repetition_type", StringType),
    StructField("logical_type", StringType), StructField("scale", IntegerType),
    StructField("precision", IntegerType), StructField("field_id", IntegerType)))

  /** Logical schema description (reference: parquet_describe(),
    * src/api/parquet.rs:53-71): (column_name, column_type, null, key,
    * default, extra). The last three are always NULL in the reference too —
    * kept for full result-schema parity. */
  def parquetDescribe(spark: SparkSession, path: String): DataFrame =
    describeOf(spark, spark.read.parquet(path).schema)

  private def describeOf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val rows = schema.fields.toSeq.map { f =>
      Row(f.name, graft.types.TypeMap.toEngineName(f.dataType),
        if (f.nullable) "YES" else "NO", null, null, null)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("column_name", StringType), StructField("column_type", StringType),
        StructField("null", StringType), StructField("key", StringType),
        StructField("default", StringType), StructField("extra", StringType))))
  }

  /** Escape hatch: run any SQL on the engine (reference: duckdb_execute(),
    * src/api/duckdb.rs:27-29). */
  def execute(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  // The reference calls duckdb_execute as a SQL SELECT
  // (tests/tests/settings.rs:11: SELECT duckdb_execute($$...$$)) — accept
  // that statement form verbatim, dollar-quoted or single-quoted.
  private val duckdbExecRe =
    """(?is)\s*SELECT\s+duckdb_execute\(\s*(?:\$\$(.*?)\$\$|'((?:[^']|'')*)')\s*\)\s*;?\s*""".r

  /** The reference exposes introspection as SQL TABLE functions
    * (duckdb_settings()/duckdb_extensions(), src/api/duckdb.rs:33-124;
    * parquet_describe('t')/parquet_schema('t'), src/api/parquet.rs:53-146,
    * where 't' may be an attached TABLE or a path). Spark has no SQL-callable
    * table functions here, so executePg materializes each occurrence into a
    * temp view and swaps the call text for the view name — the reference
    * statements run verbatim. Bounded metadata work per call. */
  private val dsRe = """(?i)duckdb_settings\(\)""".r
  private val deRe = """(?i)duckdb_extensions\(\)""".r

  /** The table-or-path check of the introspection functions: the argument
    * names a registered table or view, or else it is a path. An argument
    * that does not even parse as an identifier (an absolute path) is a
    * path, not an error. */
  private def isTable(spark: SparkSession, nameOrPath: String): Boolean =
    try spark.catalog.tableExists(nameOrPath)
    catch { case _: org.apache.spark.sql.catalyst.parser.ParseException => false }

  private def describeAny(spark: SparkSession, nameOrPath: String): DataFrame =
    if (isTable(spark, nameOrPath)) describeOf(spark, spark.table(nameOrPath).schema)
    else parquetDescribe(spark, nameOrPath)

  /** Footer rows (`frame`) of a table's actual backing files, or of the
    * parquet files at a path. A file-less relation (VALUES view, empty
    * lakehouse table) lists zero footers. One driver loop over the footers
    * builds one flat frame, never a per-file plan-tree union. */
  private def footersAny(spark: SparkSession, nameOrPath: String, fn: String,
      schema: StructType,
      frame: Seq[org.apache.hadoop.fs.Path] => DataFrame): DataFrame =
    if (!isTable(spark, nameOrPath)) frame(parquetFiles(spark, nameOrPath, fn))
    else {
      val files = spark.table(nameOrPath).inputFiles.toSeq
      if (files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else frame(files.map(new org.apache.hadoop.fs.Path(_)))
    }

  private def schemaAny(spark: SparkSession, nameOrPath: String): DataFrame =
    footersAny(spark, nameOrPath, "parquet_schema", footerSchema, footerFrame(spark, _))

  // a one-arg call's tail in an unquoted segment: text, the function name,
  // an open paren — the quoted argument is the NEXT segment
  private val fnTailRe =
    """(?is)^(.*?)(parquet_describe|parquet_schema|parquet_metadata|delta_history|delta_detail|iceberg_snapshots|iceberg_manifests|iceberg_files|iceberg_partitions|iceberg_refs|convert_to_iceberg|convert_to_delta|glob|read_text|read_blob)\(\s*$""".r

  /** DuckDB's `glob('pattern')` — one row per matching path, sorted. The
    * DuckDB file-system helper the reference's users reach through
    * duckdb_execute; bounded driver listing. */
  def globFiles(spark: SparkSession, pattern: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val hp = new Path(pattern)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Nil)
      .map(_.getPath.toString).sorted
    spark.createDataFrame(
      spark.sparkContext.parallelize(matched.map(Row(_)), 1),
      StructType(Seq(StructField("file", StringType))))
  }

  /** DuckDB's `read_text('glob')` / `read_blob('glob')` — one row per
    * file: (filename, content, size, last_modified). DISTRIBUTED via
    * Spark's binaryFile source (file-per-task; column pruning means a
    * `SELECT filename` never reads the bytes). read_text decodes UTF-8. */
  def readBlob(spark: SparkSession, pattern: String): DataFrame =
    spark.read.format("binaryFile").load(pattern)
      .select(col("path").as("filename"), col("content"),
        col("length").as("size"), col("modificationTime").as("last_modified"))

  def readText(spark: SparkSession, pattern: String): DataFrame =
    readBlob(spark, pattern).withColumn("content", col("content").cast("string"))

  /** DuckDB's `parquet_metadata('t')` — one row per (row group, column
    * chunk) with sizes, value counts, codec, encodings, and chunk-level
    * min/max/null-count stats (the rows DuckDB users read to judge
    * skipping health). Table-or-path like parquet_schema; bounded driver
    * footer reads. */
  def parquetMetadata(spark: SparkSession, path: String): DataFrame =
    parquetMetadataFiles(spark, parquetFiles(spark, path, "parquet_metadata"))

  private def parquetMetadataFiles(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.Path]): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    import scala.jdk.CollectionConverters._
    val rows = files.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try reader.getFooter.getBlocks.asScala.zipWithIndex.flatMap { case (bl, gi) =>
        bl.getColumns.asScala.zipWithIndex.map { case (cc, ci) =>
          val st = cc.getStatistics
          val hasStats = st != null && !st.isEmpty
          Row(
            p.toString, gi, bl.getRowCount, bl.getColumns.size.toLong,
            bl.getTotalByteSize, ci.toLong,
            cc.getPath.asScala.mkString("."),
            cc.getPrimitiveType.getPrimitiveTypeName.toString,
            cc.getValueCount, cc.getTotalSize, cc.getTotalUncompressedSize,
            if (hasStats && st.hasNonNullValue) st.minAsString else null,
            if (hasStats && st.hasNonNullValue) st.maxAsString else null,
            if (hasStats && st.isNumNullsSet) Long.box(st.getNumNulls) else null,
            cc.getEncodings.asScala.map(_.toString).toSeq.sorted.mkString(","),
            cc.getCodec.toString)
        }.toSeq
      }.toSeq
      finally reader.close()
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), parquetMetaSchema)
  }

  private val parquetMetaSchema = StructType(Seq(
    StructField("file_name", StringType), StructField("row_group_id", IntegerType),
    StructField("row_group_num_rows", LongType),
    StructField("row_group_num_columns", LongType),
    StructField("row_group_bytes", LongType), StructField("column_id", LongType),
    StructField("path_in_schema", StringType), StructField("type", StringType),
    StructField("num_values", LongType),
    StructField("total_compressed_size", LongType),
    StructField("total_uncompressed_size", LongType),
    StructField("stats_min_value", StringType), StructField("stats_max_value", StringType),
    StructField("stats_null_count", LongType), StructField("encodings", StringType),
    StructField("compression", StringType)))

  private def parquetMetadataAny(spark: SparkSession, nameOrPath: String): DataFrame =
    footersAny(spark, nameOrPath, "parquet_metadata", parquetMetaSchema,
      parquetMetadataFiles(spark, _))

  /** Commit history of a native Delta table (one row per commit JSON). */
  def deltaHistory(spark: SparkSession, root: String): DataFrame =
    graft.sources.DeltaNative.history(spark, root)

  /** Snapshot history of a native Iceberg table (current metadata.json). */
  def icebergSnapshots(spark: SparkSession, root: String): DataFrame =
    graft.sources.IcebergNative.snapshots(spark, root)

  /** QUOTE-AWARE swap: the replacement runs per unquoted segment
    * (PgDialect.segments), so a string literal containing
    * `duckdb_settings()` stays data. One-arg calls span three segments —
    * `fn(` / `'arg'` / `)…` — and are stitched across them. */
  private def registerTableFunctions(spark: SparkSession, sql: String): String = {
    def viewFor(prefix: String, arg: String, df: => DataFrame): String = {
      val name = prefix + java.lang.Long.toHexString(arg.hashCode.toLong & 0xffffffffL)
      df.createOrReplaceTempView(name)
      name
    }
    def zeroArg(seg: String): String = {
      val t = dsRe.replaceAllIn(seg, _ => viewFor("graft_ds_", "", settings(spark)))
      deRe.replaceAllIn(t, _ => viewFor("graft_de_", "", extensions(spark)))
    }
    val segs = PgDialect.segments(sql).toArray
    val out = new StringBuilder
    var i = 0
    while (i < segs.length) {
      val (seg, quoted) = segs(i)
      if (quoted) { out.append(seg); i += 1 }
      else seg match {
        case fnTailRe(pre, fn)
            if i + 2 < segs.length && segs(i + 1)._2 && segs(i + 1)._1.startsWith("'") &&
              segs(i + 2)._1.matches("""(?s)^\s*\).*""") =>
          val arg = segs(i + 1)._1.stripPrefix("'").stripSuffix("'").replace("''", "'")
          val view = fn.toLowerCase match {
            case "parquet_describe" =>
              viewFor("graft_pd_", arg, describeAny(spark, arg))
            case "parquet_metadata" =>
              viewFor("graft_pm_", arg, parquetMetadataAny(spark, arg))
            case "delta_history" =>
              viewFor("graft_dh_", arg, deltaHistory(spark, arg))
            case "iceberg_snapshots" =>
              viewFor("graft_is_", arg, icebergSnapshots(spark, arg))
            case "iceberg_manifests" =>
              viewFor("graft_im_", arg,
                graft.sources.IcebergNative.manifests(spark, arg))
            case "iceberg_files" =>
              viewFor("graft_if_", arg,
                graft.sources.IcebergNative.files(spark, arg))
            case "iceberg_partitions" =>
              viewFor("graft_ip_", arg,
                graft.sources.IcebergNative.partitions(spark, arg))
            case "iceberg_refs" =>
              viewFor("graft_ir_", arg,
                graft.sources.IcebergNative.refs(spark, arg))
            case "delta_detail" =>
              viewFor("graft_dd_", arg,
                graft.catalog.DeltaSink.describeDetail(spark, arg))
            case "convert_to_iceberg" =>
              // in-place Delta→Iceberg metadata conversion; one row:
              // (files, synced) — files = -1 means already in sync
              val n = graft.catalog.Convert.deltaToIceberg(spark, arg)
              viewFor("graft_ci_", arg + ":" + n, {
                import spark.implicits._
                Seq((n, n >= 0)).toDF("files", "synced")
              })
            case "convert_to_delta" =>
              // the reverse direction: Iceberg→Delta, same one-row contract
              val n = graft.catalog.Convert.icebergToDelta(spark, arg)
              viewFor("graft_cd_", arg + ":" + n, {
                import spark.implicits._
                Seq((n, n >= 0)).toDF("files", "synced")
              })
            case "glob" =>
              viewFor("graft_gl_", arg, globFiles(spark, arg))
            case "read_text" =>
              viewFor("graft_rt_", arg, readText(spark, arg))
            case "read_blob" =>
              viewFor("graft_rb_", arg, readBlob(spark, arg))
            case _ => viewFor("graft_ps_", arg, schemaAny(spark, arg))
          }
          out.append(zeroArg(pre)).append(view)
          // consume the close paren and re-process the remainder (it may
          // hold another table-function call)
          segs(i + 2) = (segs(i + 2)._1.replaceFirst("""^\s*\)""", ""), false)
          i += 2
        case _ => out.append(zeroArg(seg)); i += 1
      }
    }
    out.toString
  }

  // ---------------------------------------- PG utility-statement routing
  // Per-session state for the statement forms the reference's tests issue
  // as plain SQL: prepared statements and the search-path registry.
  // WeakHashMap: state dies with the session, never leaks across restarts.
  private val pgState =
    new java.util.WeakHashMap[SparkSession, (PreparedStatements, graft.catalog.Schemas)]()
  private def stateFor(spark: SparkSession): (PreparedStatements, graft.catalog.Schemas) =
    pgState.synchronized {
      var s = pgState.get(spark)
      if (s == null) {
        s = (new PreparedStatements, graft.catalog.Schemas(spark))
        pgState.put(spark, s)
      }
      s
    }
  /** The search-path registry executePg statements resolve against (so a
    * caller can mix API-level attachIn with SQL-level SET search_path). */
  def pgSchemas(spark: SparkSession): graft.catalog.Schemas = stateFor(spark)._2

  private val prepareRe =
    """(?is)^\s*PREPARE\s+([A-Za-z_]\w*)\s*(?:\(([^)]*)\))?\s+AS\s+(.+?)\s*;?\s*$""".r
  private val executeRe =
    """(?is)^\s*EXECUTE\s+([A-Za-z_]\w*)\s*(?:\((.*)\))?\s*;?\s*$""".r
  // UPDATE <table> SET <col = expr, ...> WHERE <predicate>
  private val updateRe =
    """(?is)^\s*UPDATE\s+("?[A-Za-z_][\w"]*"?)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*$""".r

  // ALTER TABLE <table> ADD COLUMN <name> <pg-type>
  private val alterAddRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?("?[A-Za-z_][\w"]*"?)\s+([A-Za-z_][\w ()\[\],]*?)\s*;?\s*$""".r

  // ALTER TABLE t CREATE TAG|BRANCH <name> [AS OF VERSION <snapshot>] and
  // DROP TAG|BRANCH <name> — the iceberg-spark SQL ref-management shapes
  private val alterRefCreateRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+CREATE\s+(TAG|BRANCH)\s+("?[A-Za-z_][-\w."]*"?)(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*$""".r
  private val alterRefDropRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+DROP\s+(TAG|BRANCH)\s+("?[A-Za-z_][-\w."]*"?)\s*;?\s*$""".r

  // CREATE TABLE <new> SHALLOW CLONE <src> LOCATION '<path>' — the
  // delta-spark clone DDL; LOCATION is required (tables here are paths)
  private val shallowCloneRe =
    """(?is)^\s*CREATE\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+SHALLOW\s+CLONE\s+("?[A-Za-z_][\w"]*"?)\s+LOCATION\s+'([^']+)'\s*;?\s*$""".r

  // CALL [catalog.]system.<proc>('t'[, n]) — the iceberg-spark maintenance
  // procedures, routed to the native writer surfaces
  private val callProcRe =
    """(?is)^\s*CALL\s+(?:[\w.]+\.)?system\.(expire_snapshots|remove_orphan_files|fast_forward|rewrite_manifests|rewrite_position_delete_files)\s*\(\s*'?([A-Za-z_][\w]*)'?\s*(?:,\s*'?([^,')]+)'?\s*)?\)\s*;?\s*$""".r

  // ALTER TABLE t ADD PARTITION FIELD <entry> | DROP PARTITION FIELD <name>
  // — the iceberg-spark partition-evolution DDL (entry uses the same
  // syntax as partition_by: `bucket(4,id)`, `month(ts)`, `region`)
  private val alterAddPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+ADD\s+PARTITION\s+FIELD\s+([\w()., ]+?)\s*;?\s*$""".r
  private val alterDropPartFieldRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+DROP\s+PARTITION\s+FIELD\s+("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r

  // ALTER TABLE t ADD CONSTRAINT n CHECK (expr) | DROP CONSTRAINT n |
  // SET TBLPROPERTIES ('k'='v', ...) — the delta-spark DDL shapes
  private val alterAddConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+ADD\s+CONSTRAINT\s+("?[A-Za-z_][\w"]*"?)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private val alterDropConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+DROP\s+CONSTRAINT\s+("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r
  private val alterSetPropsRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*$""".r

  // ALTER TABLE <table> DROP COLUMN <name>  |  RENAME COLUMN <a> TO <b>
  private val alterDropRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r
  private val alterRenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+RENAME\s+COLUMN\s+("?[A-Za-z_][\w"]*"?)\s+TO\s+("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r

  // SET graft.delta_dml_strategy = 'copy_on_write' | 'deletion_vector' —
  // the session GUC the SQL DELETE/UPDATE routing consults for delta
  // attaches (the delta.enableDeletionVectors idea as a session knob)
  private val dmlStrategyRe =
    """(?is)^\s*SET\s+graft\.(delta|iceberg)_dml_strategy\s*(?:TO|=)\s*'?([A-Za-z_]+)'?\s*;?\s*$""".r
  private[sqlapi] val DmlStrategyKey = "graft.delta_dml_strategy"
  private[sqlapi] val IceDmlStrategyKey = "graft.iceberg_dml_strategy"
  private def deltaDvStrategy(spark: SparkSession): Boolean =
    spark.conf.getOption(DmlStrategyKey).contains("deletion_vector")
  private def iceDvStrategy(spark: SparkSession): Boolean =
    spark.conf.getOption(IceDmlStrategyKey).contains("deletion_vector")

  // DESCRIBE t | SHOW TABLES — the DuckDB introspection shapes
  private val describeRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r
  private val showTablesRe = """(?is)^\s*SHOW\s+TABLES\s*;?\s*$""".r

  // Maintenance statements (the delta-spark SQL shapes, routed natively):
  // OPTIMIZE t [ZORDER BY (c1, c2)] | VACUUM t [RETAIN n HOURS] |
  // REORG TABLE t APPLY (PURGE)
  private val optimizeRe =
    """(?is)^\s*OPTIMIZE\s+("?[A-Za-z_][\w"]*"?)\s*(?:ZORDER\s+BY\s*\(([^)]+)\))?(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  // DESCRIBE HISTORY t | DESCRIBE DETAIL t — the delta-spark statement
  // shapes (HISTORY also serves iceberg attaches via the snapshot log)
  private val describeHistRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r
  private val describeDetailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+("?[A-Za-z_][\w"]*"?)\s*;?\s*$""".r

  private val vacuumRe =
    """(?is)^\s*VACUUM\s+("?[A-Za-z_][\w"]*"?)\s*(?:RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*$""".r
  private val reorgRe =
    """(?is)^\s*REORG\s+TABLE\s+("?[A-Za-z_][\w"]*"?)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r

  // DELETE FROM <table> WHERE <predicate>
  private val deleteRe =
    """(?is)^\s*DELETE\s+FROM\s+("?[A-Za-z_][\w"]*"?)\s+WHERE\s+(.+?)\s*;?\s*$""".r

  // INSERT INTO <table> [(cols)] VALUES ... | SELECT ...
  private val insertRe =
    """(?is)^\s*INSERT\s+INTO\s+("?[A-Za-z_][\w"]*"?)\s*(\([^)]*\))?\s*(VALUES\s+.+|SELECT\s+.+?)\s*;?\s*$""".r

  // MERGE INTO <target> [AS alias] USING <table|(subquery)> [AS alias]
  // ON <cond> WHEN ... — the delta-spark statement shape; parsed by a
  // paren/quote-aware keyword scanner (the USING source may carry ON /
  // WHEN / THEN inside subquery joins, CASE expressions or strings, where
  // a plain regex boundary would mis-split)
  private val mergePrefix = """(?is)^\s*MERGE\s+INTO\s.+""".r.pattern

  /** First index at or after `from` of a word-bounded, case-insensitive
    * keyword at paren depth 0, outside single-quoted strings AND
    * double-quoted identifiers, and outside `CASE … END` expressions (an
    * unparenthesized CASE in an ON condition or SET value carries WHEN /
    * THEN / ELSE tokens that are NOT clause boundaries); -1 if none. */
  private def topLevelKeyword(s: String, kw: String, from: Int): Int = {
    var i = math.max(from, 0)
    var depth = 0
    var caseDepth = 0
    var quote: Char = 0
    val n = s.length
    val k = kw.length
    def wordChar(c: Char): Boolean = Character.isLetterOrDigit(c) || c == '_'
    def word(w: String): Boolean = s.regionMatches(true, i, w, 0, w.length) &&
      (i == 0 || !wordChar(s.charAt(i - 1))) &&
      (i + w.length >= n || !wordChar(s.charAt(i + w.length)))
    while (i < n) {
      val c = s.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else if (c == '\'' || c == '"') quote = c
      else if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (word("CASE")) caseDepth += 1
      else if (caseDepth > 0 && word("END")) caseDepth -= 1
      else if (depth == 0 && caseDepth == 0 && word(kw)) return i
      i += 1
    }
    // a scan that ends inside a CASE means the clause walk is
    // desynchronized (an unterminated CASE, or an unquoted token literally
    // named `case`) — the generic "cannot parse clause head" downstream
    // error would hide the real cause, so name it here
    if (caseDepth > 0) throw new IllegalArgumentException(
      "unbalanced CASE…END while scanning SQL clauses — an unterminated " +
        "CASE expression, or an unquoted identifier literally named " +
        "`case`, desynchronizes the clause scan (quote such identifiers)")
    -1
  }

  // COPY (SELECT ...) TO '<path>' (FORMAT ..., KEY value, ...)  |
  // COPY table TO '<path>' (...) — the source is a parenthesized query or
  // a (possibly schema-qualified, possibly quoted) table name
  private val copyRe =
    """(?is)^\s*COPY\s+(\(.+\)|[A-Za-z_"][\w".]*)\s+TO\s+'([^']+)'\s*(?:\(\s*(.*?)\s*\))?\s*;?\s*$""".r

  /** Split on commas at paren depth 0 (COPY option lists may carry
    * parenthesized values like PARTITION_BY (a, b)). */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case ',' if depth == 0 => out += cur.toString; cur.clear()
      case c => cur.append(c)
    }
    out += cur.toString
    out.toSeq
  }

  private val deallocRe =
    """(?is)^\s*DEALLOCATE\s+(?:PREPARE\s+)?(ALL|[A-Za-z_]\w*)\s*;?\s*$""".r
  private val searchPathRe =
    """(?is)^\s*SET\s+search_path\s*(?:TO|=)\s*(.+?)\s*;?\s*$""".r
  private val createSchemaRe =
    """(?is)^\s*CREATE\s+SCHEMA\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)\s*;?\s*$""".r

  /** EXECUTE argument list → Scala literals (quote-aware comma split; PG
    * literal grammar subset: strings, numbers, booleans, NULL). */
  private def parseExecuteArgs(text: String): Seq[Any] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    val parts = scala.collection.mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    PgDialect.segments(text).foreach { case (seg, quoted) =>
      if (quoted) cur.append(seg)
      else {
        var rest = seg
        while (rest.contains(',')) {
          val i = rest.indexOf(',')
          cur.append(rest.substring(0, i)); parts += cur.toString; cur.clear()
          rest = rest.substring(i + 1)
        }
        cur.append(rest)
      }
    }
    parts += cur.toString
    parts.toSeq.map(_.trim).map {
      case t if t.equalsIgnoreCase("null") => null
      case t if t.equalsIgnoreCase("true") => true
      case t if t.equalsIgnoreCase("false") => false
      case t if t.startsWith("'") && t.endsWith("'") && t.length >= 2 =>
        t.substring(1, t.length - 1).replace("''", "'")
      case t if t.matches("-?\\d+") => t.toLong
      case t if t.matches("-?\\d*\\.\\d+([eE][+-]?\\d+)?") => t.toDouble
      case t => throw new IllegalArgumentException(
        s"EXECUTE argument `$t` is not a literal (strings, numbers, booleans, NULL)")
    }
  }

  /** Resolve a statement's table name to its attach registration:
    * (name, format, files root, attach options). */
  private def attachTarget(spark: SparkSession, table: String,
      what: String): (String, String, String, Map[String, String]) = {
    val name = table.trim.stripPrefix("\"").stripSuffix("\"")
    val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
      throw new IllegalArgumentException(
        s"$what `$name`: not an attached foreign table"))
    val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
      s"$what `$name`: attach carries no files path"))
    (name, fmt, rootOpt, attachOpts)
  }

  /** PG command tags return no rows; a typed empty frame keeps the
    * DataFrame contract for utility statements. */
  private[sqlapi] def commandOk(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("status", StringType))))

  // `FROM t FOR TIMESTAMP AS OF '...'` / `FOR VERSION AS OF n`: resolve by
  // RE-ATTACHING the table with the matching time-travel option (the attach
  // registry remembers format + options) under a derived view name, then
  // swap the clause for that name. Spark's own AS-OF syntax only reaches
  // DSv2 tables; attached lakehouse tables here are temp views.
  private val asOfVersionRe =
    """(?is)([A-Za-z_][\w.]*)\s+FOR\s+(?:SYSTEM_)?VERSION\s+AS\s+OF\s+(\d+)""".r
  private val asOfTsTailRe =
    """(?is)^(.*?)([A-Za-z_][\w.]*)\s+FOR\s+(?:SYSTEM_)?TIME(?:STAMP)?\s+AS\s+OF\s*$""".r
  // a QUOTED version pin is a snapshot REF (branch/tag) name on iceberg —
  // the iceberg-spark `VERSION AS OF 'tag'` convention
  private val asOfVerTailRe =
    """(?is)^(.*?)([A-Za-z_][\w.]*)\s+FOR\s+(?:SYSTEM_)?VERSION\s+AS\s+OF\s*$""".r

  private def asOfView(spark: SparkSession, tbl: String, kind: String,
      value: String): String = {
    val (fmt, opts) = graft.catalog.Catalog.attachedMeta(tbl).getOrElse(
      throw new IllegalArgumentException(
        s"FOR $kind AS OF: `$tbl` is not an attached table"))
    val optKey = (fmt, kind) match {
      case ("delta", "TIMESTAMP") => "timestamp_as_of"
      case ("delta", "VERSION") => "version_as_of"
      case ("iceberg", "TIMESTAMP") => "as_of_timestamp"
      case ("iceberg", "VERSION") => "snapshot_id"
      case ("iceberg", "REF") => "ref"
      case ("delta", "REF") if value.forall(_.isDigit) => "version_as_of"
      case ("delta", "REF") => throw new IllegalArgumentException(
        s"FOR VERSION AS OF '$value': delta has no snapshot refs — named " +
          "version pins are an iceberg feature (tags/branches)")
      case _ => throw new IllegalArgumentException(
        s"FOR $kind AS OF needs a delta or iceberg attach; `$tbl` is $fmt")
    }
    val view = tbl + "__asof_" +
      java.lang.Long.toHexString((kind + value).hashCode.toLong & 0xffffffffL)
    graft.catalog.Catalog.attach(spark, view, fmt,
      opts - "timestamp_as_of" - "version_as_of" - "as_of_timestamp" - "snapshot_id" - "ref" +
        (optKey -> value))
    view
  }

  /** Quote-aware AS-OF normalization: VERSION pins live in one unquoted
    * segment; TIMESTAMP pins stitch an unquoted tail with the next quoted
    * literal (same discipline as the table-function swap). */
  private def rewriteAsOf(spark: SparkSession, sql: String): String = {
    val segs = PgDialect.segments(sql).toBuffer
    var i = 0
    while (i < segs.length) {
      val (seg, quoted) = segs(i)
      if (!quoted) {
        var s = asOfVersionRe.replaceAllIn(seg, m =>
          java.util.regex.Matcher.quoteReplacement(
            asOfView(spark, m.group(1), "VERSION", m.group(2))))
        asOfTsTailRe.findFirstMatchIn(s) match {
          case Some(m) if i + 1 < segs.length && segs(i + 1)._2 &&
              segs(i + 1)._1.startsWith("'") =>
            val lit = segs(i + 1)._1
            val ts = lit.substring(1, lit.length - 1).replace("''", "'")
            s = m.group(1) + asOfView(spark, m.group(2), "TIMESTAMP", ts)
            segs.remove(i + 1)
          case _ => ()
        }
        // `FOR VERSION AS OF '<name>'` (quoted) = a snapshot REF pin
        asOfVerTailRe.findFirstMatchIn(s) match {
          case Some(m) if i + 1 < segs.length && segs(i + 1)._2 &&
              segs(i + 1)._1.startsWith("'") =>
            val lit = segs(i + 1)._1
            val ref = lit.substring(1, lit.length - 1).replace("''", "'")
            s = m.group(1) + asOfView(spark, m.group(2), "REF", ref)
            segs.remove(i + 1)
          case _ => ()
        }
        segs(i) = (s, false)
      }
      i += 1
    }
    segs.map(_._1).mkString
  }

  /** Run Postgres-flavored SQL (the reference's native dialect): `::` casts,
    * PG type names, `E'\x..'` bytea literals, double-quoted identifiers and
    * ROW constructors normalize to Spark SQL; utility statements the
    * reference issues as SQL — PREPARE/EXECUTE/DEALLOCATE, SET search_path,
    * CREATE SCHEMA — route to the session registries; FOR TIMESTAMP|VERSION
    * AS OF re-attaches with the matching time-travel pin (SURVEY §7 dialect
    * risk — migration path for reference users). */
  def executePg(spark: SparkSession, sql: String): DataFrame = sql match {
    case duckdbExecRe(dollar, quoted) =>
      spark.sql(Option(dollar).getOrElse(quoted.replace("''", "'")))
    case prepareRe(name, _, body) =>
      stateFor(spark)._1.prepare(name, body)
      commandOk(spark)
    case executeRe(name, args) =>
      // body re-plans here (PG replan-on-catalog-change semantics) and runs
      // through the same dialect rewrite as direct statements
      stateFor(spark)._1.executeRewritten(spark, name, parseExecuteArgs(args),
        s => PgDialect.rewrite(registerTableFunctions(spark, s)))
    case deallocRe(name) =>
      if (name.equalsIgnoreCase("ALL")) stateFor(spark)._1.deallocateAll()
      else stateFor(spark)._1.deallocate(name)
      commandOk(spark)
    case searchPathRe(pathList) =>
      val names = pathList.split(",").map(_.trim)
        .map(n => if (n.startsWith("\"") && n.endsWith("\"") && n.length >= 2)
          n.substring(1, n.length - 1).replace("\"\"", "\"") else n)
        .filter(_.nonEmpty)
      stateFor(spark)._2.setSearchPath(names.toIndexedSeq)
      commandOk(spark)
    case createSchemaRe(_) =>
      // schemas materialize on first attachIn; the registry needs no
      // pre-declaration — accept the statement for sequence compatibility
      commandOk(spark)
    case s if FdwDdl.isDdl(s) =>
      // the reference's own lifecycle: CREATE FOREIGN DATA WRAPPER /
      // SERVER / USER MAPPING / FOREIGN TABLE, and their DROPs
      FdwDdl.execute(spark, s, pgSchemas(spark))
    case insertRe(table, colList, body) =>
      // INSERT INTO <attached lakehouse table> [(cols)] VALUES ...|SELECT
      // ... — appends through the format's native writer and re-attaches.
      // Incoming columns cast to the table's declared types (a VALUES
      // literal types its ints as INT; the table may hold BIGINT); columns
      // the statement omits must not exist — partial-row inserts would
      // need column defaults, which these writers don't model.
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"INSERT INTO `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"INSERT INTO `$name`: attach carries no files path"))
      val targetSchema = spark.table(name).schema
      val declared: Seq[String] = Option(colList) match {
        case Some(cl) => cl.stripPrefix("(").stripSuffix(")").split(",")
          .map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq.filter(_.nonEmpty)
        case None => targetSchema.fieldNames.toSeq
      }
      targetSchema.fieldNames.find(c => !declared.contains(c)).foreach { c =>
        throw new IllegalArgumentException(
          s"INSERT INTO `$name`: column `$c` is missing — these writers have " +
            "no column defaults, every table column must be supplied")
      }
      declared.find(c => !targetSchema.fieldNames.contains(c)).foreach { c =>
        throw new IllegalArgumentException(
          s"INSERT INTO `$name`: unknown column `$c`")
      }
      val incoming: DataFrame = {
        val b = body.trim
        val base =
          if (b.toUpperCase.startsWith("VALUES"))
            spark.sql(s"SELECT * FROM (${PgDialect.rewrite(b)}) AS " +
              s"t(${declared.map(c => s"`$c`").mkString(", ")})")
          else executePg(spark, b)
        if (base.schema.length != declared.length) throw new IllegalArgumentException(
          s"INSERT INTO `$name`: ${declared.length} target columns but the " +
            s"source yields ${base.schema.length}")
        // positional: source column i feeds declared column i, cast to type
        base.select(base.schema.fieldNames.zip(declared).map { case (src, dst) =>
          org.apache.spark.sql.functions.col(s"`$src`")
            .cast(targetSchema(targetSchema.fieldIndex(dst)).dataType).as(dst)
        }: _*).select(targetSchema.fieldNames.map(
          c => org.apache.spark.sql.functions.col(s"`$c`")): _*)
      }
      val inserted = incoming.count()
      fmt.toLowerCase match {
        case "delta" => graft.catalog.DeltaSink.write(incoming, rootOpt, Map.empty)
        case "iceberg" => graft.catalog.IcebergSink.write(incoming, rootOpt, Map.empty)
        case other => throw new IllegalArgumentException(
          s"INSERT INTO `$name`: appends are implemented for delta and " +
            s"iceberg attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      import spark.implicits._
      Seq(inserted).toDF("rows_inserted")
    case describeRe(table) =>
      // DuckDB's DESCRIBE shape: one row per column with the ENGINE-visible
      // type name (the same mapper the FDW DDL path uses in reverse)
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      if (spark.catalog.tableExists(name) ||
          graft.catalog.Catalog.attachedMeta(name).isDefined) {
        val fields = spark.table(name).schema.fields.toSeq
        val rows = fields.map { f =>
          Row(f.name, graft.types.TypeMap.toEngineName(f.dataType),
            if (f.nullable) "YES" else "NO", null, null, null)
        }
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
          StructType(Seq(
            StructField("column_name", StringType),
            StructField("column_type", StringType),
            StructField("null", StringType),
            StructField("key", StringType, nullable = true),
            StructField("default", StringType, nullable = true),
            StructField("extra", StringType, nullable = true))))
      } else throw new IllegalArgumentException(
        s"DESCRIBE `$name`: no such table or attached view")
    case showTablesRe() =>
      // attached foreign tables with their format + root — what a reference
      // user's \d-style listing needs
      val rows = graft.catalog.Catalog.attachedTables.map { case (n, f, r) =>
        Row(n, f, r)
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("name", StringType), StructField("format", StringType),
          StructField("files", StringType))))
    case dmlStrategyRe(fmt0, v) =>
      // per-format strategy knobs: delta copy_on_write|deletion_vector,
      // iceberg positional|deletion_vector
      val (key, valid) =
        if (fmt0.equalsIgnoreCase("delta"))
          (DmlStrategyKey, Set("copy_on_write", "deletion_vector"))
        else (IceDmlStrategyKey, Set("positional", "deletion_vector"))
      if (!valid.contains(v.toLowerCase)) throw new IllegalArgumentException(
        s"SET graft.${fmt0.toLowerCase}_dml_strategy: `$v` is not a strategy; " +
          s"valid: ${valid.toSeq.sorted.mkString(", ")}")
      spark.conf.set(key, v.toLowerCase)
      commandOk(spark)
    case shallowCloneRe(newTbl, srcTbl, location) =>
      val newName = newTbl.trim.stripPrefix("\"").stripSuffix("\"")
      val srcName = srcTbl.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, srcOpts) = graft.catalog.Catalog.attachedMeta(srcName).getOrElse(
        throw new IllegalArgumentException(
          s"SHALLOW CLONE: `$srcName` is not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("delta")) throw new IllegalArgumentException(
        s"SHALLOW CLONE: `$srcName` is a $fmt attach — clones are a delta feature")
      val srcRoot = srcOpts.getOrElse("files", throw new IllegalArgumentException(
        s"SHALLOW CLONE: `$srcName` attach carries no files path"))
      graft.catalog.DeltaSink.shallowClone(spark, srcRoot, location)
      graft.catalog.Catalog.attach(spark, newName, "delta", Map("files" -> location))
      commandOk(spark)
    case callProcRe(proc, tbl, argOpt) =>
      val name = tbl.trim
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"CALL system.$proc: `$name` is not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("iceberg")) throw new IllegalArgumentException(
        s"CALL system.$proc: `$name` is a $fmt attach — these maintenance " +
          "procedures are the iceberg surface")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"CALL system.$proc: `$name` attach carries no files path"))
      proc.toLowerCase match {
        case "expire_snapshots" =>
          val ms = Option(argOpt).map(_.trim.toLong)
            .getOrElse(7L * 24 * 3600 * 1000)
          graft.catalog.IcebergSink.expireSnapshots(spark, root, ms)
        case "remove_orphan_files" =>
          val ms = Option(argOpt).map(_.trim.toLong)
            .getOrElse(3L * 24 * 3600 * 1000)
          graft.catalog.IcebergSink.removeOrphanFiles(spark, root, ms)
        case "fast_forward" =>
          val branch = Option(argOpt).map(_.trim).getOrElse(
            throw new IllegalArgumentException(
              "CALL system.fast_forward needs ('table', 'branch')"))
          graft.catalog.IcebergSink.fastForward(spark, root, branch)
        case "rewrite_manifests" =>
          graft.catalog.IcebergSink.rewriteManifests(spark, root)
        case "rewrite_position_delete_files" =>
          graft.catalog.IcebergSink.rewritePositionDeleteFiles(spark, root)
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      commandOk(spark)
    case alterAddConstraintRe(table, cName, exprSql) =>
      // CHECK constraints install on the delta writer (writer v3); every
      // later write through this engine enforces them
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val cn = cName.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("delta")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: CHECK constraints are a delta writer feature " +
          s"(got format `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.DeltaSink.addCheckConstraint(spark, root, cn,
        PgDialect.rewrite(exprSql.trim))
      commandOk(spark)
    case alterDropConstraintRe(table, cName) =>
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val cn = cName.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("delta")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: CHECK constraints are a delta writer feature " +
          s"(got format `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.DeltaSink.dropCheckConstraint(spark, root, cn)
      commandOk(spark)
    case alterSetPropsRe(table, propsRaw) =>
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("delta")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: SET TBLPROPERTIES is a delta writer surface " +
          s"(got format `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      val props: Map[String, String] = splitTopLevel(propsRaw).flatMap { kv =>
        val t = kv.trim
        if (t.isEmpty) None
        else t.split("=", 2) match {
          case Array(k, v) =>
            Some(k.trim.stripPrefix("'").stripSuffix("'") ->
              v.trim.stripPrefix("'").stripSuffix("'"))
          case _ => throw new IllegalArgumentException(
            s"SET TBLPROPERTIES: `$t` is not a 'key'='value' pair")
        }
      }.toMap
      graft.catalog.DeltaSink.setTableProperties(spark, root, props)
      commandOk(spark)
    case alterRefCreateRe(table, kind, refRaw, snapOpt) =>
      // ALTER TABLE t CREATE TAG|BRANCH name [AS OF VERSION n] — the
      // iceberg-spark SQL shape, routed to the native refs writer; the tag
      // pins a snapshot for reproducible `FOR VERSION AS OF 'name'` reads
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val refName = refRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("iceberg")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: CREATE $kind needs an iceberg attach (got `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.IcebergSink.createRef(spark, root, refName,
        isBranch = kind.equalsIgnoreCase("BRANCH"),
        snapshotId = Option(snapOpt).map(_.toLong))
      commandOk(spark)
    case alterAddPartFieldRe(table, entryRaw) =>
      // partition-spec evolution: metadata-only; future appends fan out by
      // the evolved spec while old files keep their tuples
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("iceberg")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: ADD PARTITION FIELD needs an iceberg attach (got `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.IcebergSink.addPartitionField(spark, root, entryRaw.trim)
      commandOk(spark)
    case alterDropPartFieldRe(table, fieldRaw) =>
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("iceberg")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: DROP PARTITION FIELD needs an iceberg attach (got `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.IcebergSink.dropPartitionField(spark, root,
        fieldRaw.trim.stripPrefix("\"").stripSuffix("\""))
      commandOk(spark)
    case alterRefDropRe(table, kind, refRaw) =>
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val refName = refRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      if (!fmt.equalsIgnoreCase("iceberg")) throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: DROP $kind needs an iceberg attach (got `$fmt`)")
      val root = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      graft.catalog.IcebergSink.dropRef(spark, root, refName)
      commandOk(spark)
    case alterAddRe(table, colRaw, typeRaw) =>
      // ALTER TABLE <attached lakehouse table> ADD COLUMN — schema
      // evolution through the format's native writer (Delta: log-only
      // metaData commit; Iceberg: new schemas entry + current-schema-id),
      // PG column types mapped the same way CREATE FOREIGN TABLE maps
      // them; the re-attach makes the evolved schema visible immediately.
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val colName = colRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      val sparkType = FdwDdl.pgColumnType(typeRaw.trim)
      fmt.toLowerCase match {
        case "delta" =>
          graft.catalog.DeltaSink.addColumn(spark, rootOpt, colName, sparkType)
        case "iceberg" =>
          graft.catalog.IcebergSink.addColumn(spark, rootOpt, colName, sparkType)
        case other => throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: ADD COLUMN is implemented for delta and " +
            s"iceberg attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      commandOk(spark)
    case alterDropRe(table, colRaw) =>
      // DROP COLUMN: metadata-only on BOTH formats — Iceberg drops the
      // field from the schema (ids keep reads correct); Delta upgrades to
      // column mapping mode=name on first evolution (each field pinned to
      // its current name as physicalName), then drops the logical field.
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val colName = colRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      fmt.toLowerCase match {
        case "iceberg" =>
          graft.catalog.IcebergSink.dropColumn(spark, rootOpt, colName)
        case "delta" =>
          graft.catalog.DeltaSink.dropColumn(spark, rootOpt, colName)
        case other => throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: DROP COLUMN is implemented for iceberg " +
            s"and delta attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      commandOk(spark)
    case alterRenameRe(table, oldRaw, newRaw) =>
      // RENAME COLUMN: metadata-only on BOTH formats — Iceberg keeps the
      // field id across the rename; Delta keeps the physicalName (column
      // mapping, auto-enabled on first evolution as for DROP).
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val oldName = oldRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val newName = newRaw.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"ALTER TABLE `$name`: attach carries no files path"))
      fmt.toLowerCase match {
        case "iceberg" =>
          graft.catalog.IcebergSink.renameColumn(spark, rootOpt, oldName, newName)
        case "delta" =>
          graft.catalog.DeltaSink.renameColumn(spark, rootOpt, oldName, newName)
        case other => throw new IllegalArgumentException(
          s"ALTER TABLE `$name`: RENAME COLUMN is implemented for iceberg " +
            s"and delta attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      commandOk(spark)
    case optimizeRe(table, zorderCols, whereSql) =>
      // OPTIMIZE <attach> [ZORDER BY (cols)] [WHERE <partition pred>]:
      // delta bin-packs (or z-orders), WHERE scopes the bin-pack to
      // matching partition tuples; iceberg compacts via rewriteDataFiles
      // (which also applies live row-level deletes — its purge). One row
      // of counts.
      val (name, fmt, rootOpt, attachOpts) = attachTarget(spark, table, "OPTIMIZE")
      val (a, b) = (fmt.toLowerCase, Option(zorderCols)) match {
        case ("delta", None) => graft.catalog.DeltaSink.optimize(spark, rootOpt,
          where = Option(whereSql).map(_.trim).filter(_.nonEmpty))
        case ("delta", Some(cols)) =>
          if (Option(whereSql).exists(_.trim.nonEmpty)) throw new IllegalArgumentException(
            s"OPTIMIZE `$name`: ZORDER BY does not compose with WHERE here")
          val cs = cols.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
          graft.catalog.DeltaSink.optimizeZOrder(spark, rootOpt, cs)
        case ("iceberg", None) =>
          graft.catalog.IcebergSink.rewriteDataFiles(spark, rootOpt,
            where = Option(whereSql).map(_.trim).filter(_.nonEmpty))
        case ("iceberg", Some(_)) => throw new IllegalArgumentException(
          s"OPTIMIZE `$name`: ZORDER is implemented for delta attaches")
        case (other, _) => throw new IllegalArgumentException(
          s"OPTIMIZE `$name`: implemented for delta and iceberg attaches " +
            s"(got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      import spark.implicits._
      Seq((a, b)).toDF("files_removed", "files_added")
    case describeHistRe(table) =>
      val (name, fmt, rootOpt, _) = attachTarget(spark, table, "DESCRIBE HISTORY")
      fmt.toLowerCase match {
        case "delta" => deltaHistory(spark, rootOpt)
        case "iceberg" => icebergSnapshots(spark, rootOpt)
        case other => throw new IllegalArgumentException(
          s"DESCRIBE HISTORY `$name`: implemented for delta and iceberg " +
            s"attaches (got format `$other`)")
      }
    case describeDetailRe(table) =>
      val (name, fmt, rootOpt, _) = attachTarget(spark, table, "DESCRIBE DETAIL")
      if (!fmt.equalsIgnoreCase("delta")) throw new IllegalArgumentException(
        s"DESCRIBE DETAIL `$name`: the delta summary shape needs a delta " +
          s"attach (got `$fmt`); use iceberg_snapshots/iceberg_files for iceberg")
      graft.catalog.DeltaSink.describeDetail(spark, rootOpt)
    case vacuumRe(table, retainHours) =>
      // VACUUM <attach> [RETAIN n HOURS]: delta deletes unreferenced data
      // files past retention; iceberg expires old snapshots + orphans.
      val (name, fmt, rootOpt, attachOpts) = attachTarget(spark, table, "VACUUM")
      val retainMs = Option(retainHours).map(_.toLong * 3600 * 1000)
        .getOrElse(7L * 24 * 3600 * 1000)
      import spark.implicits._
      val out = fmt.toLowerCase match {
        case "delta" =>
          Seq(graft.catalog.DeltaSink.vacuum(spark, rootOpt, retainMs).toLong)
            .toDF("files_deleted")
        case "iceberg" =>
          val (snaps, files) = graft.catalog.IcebergSink.expireSnapshots(
            spark, rootOpt, retainMs)
          Seq((snaps.toLong, files.toLong)).toDF("snapshots_expired", "files_deleted")
        case other => throw new IllegalArgumentException(
          s"VACUUM `$name`: implemented for delta and iceberg attaches " +
            s"(got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      out
    case reorgRe(table) =>
      // REORG TABLE <attach> APPLY (PURGE): materialize Delta deletion
      // vectors (iceberg's equivalent is OPTIMIZE — compaction applies DVs)
      val (name, fmt, rootOpt, attachOpts) = attachTarget(spark, table, "REORG")
      if (fmt.toLowerCase != "delta") throw new IllegalArgumentException(
        s"REORG `$name`: APPLY (PURGE) is a delta operation; on iceberg " +
          "run OPTIMIZE (compaction applies deletion vectors)")
      val (files, rows) = graft.catalog.DeltaSink.purgeDeletionVectors(spark, rootOpt)
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      import spark.implicits._
      Seq((files.toLong, rows)).toDF("files_rewritten", "rows_dropped")
    case deleteRe(table, where) =>
      // DELETE FROM <attached lakehouse table> WHERE ... — routes to the
      // format's native row-level strategy (delta: copy-on-write rewrite;
      // iceberg: merge-on-read positional delete files) and re-attaches so
      // the view sees the new snapshot. Other formats reject.
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"DELETE FROM `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"DELETE FROM `$name`: attach carries no files path"))
      val n = fmt.toLowerCase match {
        case "delta" if deltaDvStrategy(spark) =>
          graft.catalog.DeltaSink.deleteWhereDv(spark, rootOpt, PgDialect.rewrite(where))
        case "delta" =>
          graft.catalog.DeltaSink.deleteWhere(spark, rootOpt, PgDialect.rewrite(where))
        case "iceberg" if iceDvStrategy(spark) =>
          graft.catalog.IcebergSink.deleteWhereDv(spark, rootOpt, PgDialect.rewrite(where))
        case "iceberg" =>
          graft.catalog.IcebergSink.deleteWhere(spark, rootOpt, PgDialect.rewrite(where))
        case other => throw new IllegalArgumentException(
          s"DELETE FROM `$name`: row-level delete is implemented for delta " +
            s"and iceberg attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      import spark.implicits._
      Seq(n).toDF("rows_deleted")
    case updateRe(table, sets, where) =>
      // UPDATE <attached lakehouse table> SET col = expr, ... WHERE ... —
      // delta updates copy-on-write, iceberg merge-on-read (positional
      // deletes + appended images); SET expressions see the PRE-update row
      val name = table.trim.stripPrefix("\"").stripSuffix("\"")
      val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(name).getOrElse(
        throw new IllegalArgumentException(
          s"UPDATE `$name`: not an attached foreign table"))
      val rootOpt = attachOpts.getOrElse("files", throw new IllegalArgumentException(
        s"UPDATE `$name`: attach carries no files path"))
      val setMap: Map[String, String] = splitTopLevel(sets).map { s =>
        val i = s.indexOf('=')
        if (i <= 0) throw new IllegalArgumentException(
          s"UPDATE `$name`: malformed SET item `${s.trim}`")
        s.take(i).trim.stripPrefix("\"").stripSuffix("\"") ->
          PgDialect.rewrite(s.drop(i + 1).trim)
      }.toMap
      val n = fmt.toLowerCase match {
        case "delta" if deltaDvStrategy(spark) =>
          graft.catalog.DeltaSink.updateWhereDv(spark, rootOpt,
            PgDialect.rewrite(where), setMap)
        case "delta" =>
          graft.catalog.DeltaSink.updateWhere(spark, rootOpt,
            PgDialect.rewrite(where), setMap)
        case "iceberg" if iceDvStrategy(spark) =>
          graft.catalog.IcebergSink.updateWhereDv(spark, rootOpt,
            PgDialect.rewrite(where), setMap)
        case "iceberg" =>
          graft.catalog.IcebergSink.updateWhere(spark, rootOpt,
            PgDialect.rewrite(where), setMap)
        case other => throw new IllegalArgumentException(
          s"UPDATE `$name`: row-level update is implemented for delta " +
            s"and iceberg attaches (got format `$other`)")
      }
      graft.catalog.Catalog.attach(spark, name, fmt, attachOpts)
      import spark.implicits._
      Seq(n).toDF("rows_updated")
    case s if mergePrefix.matcher(s).matches() =>
      // MERGE INTO <attached lakehouse table> ... — the one DML statement
      // that previously required the Scala API; routes by attach format to
      // the native mergeInto writers (delta copy-on-write, iceberg
      // merge-on-read) and re-attaches so the view sees the new snapshot
      runMergeInto(spark, s)
    case copyRe(src, path, opts) =>
      // the reference's COPY statements run as plain SQL through its
      // executor hook (tests/tests/fixtures/tables/duckdb_types.rs:65:
      // `COPY t TO '<path>' (FORMAT PARQUET)`); here COPY routes to the
      // validated Sinks surface — subquery or table source, options as
      // (KEY value, ...) pairs, FORMAT picking the writer (parquet/csv/
      // json/delta/iceberg)
      val frame =
        if (src.trim.startsWith("("))
          executePg(spark, src.trim.stripPrefix("(").stripSuffix(")"))
        else executePg(spark, s"SELECT * FROM ${src.trim}")
      val parsed: Map[String, String] = Option(opts).filter(_.trim.nonEmpty)
        .map(splitTopLevel(_).flatMap { kv =>
          val t = kv.trim
          if (t.isEmpty) None
          else {
            val sp = t.indexWhere(_.isWhitespace)
            val (k, v) = if (sp < 0) (t, "true") else (t.take(sp), t.drop(sp).trim)
            val clean = v.stripPrefix("(").stripSuffix(")")
              .stripPrefix("'").stripSuffix("'").trim
            Some(k.toLowerCase -> clean)
          }
        }.toMap)
        .getOrElse(Map.empty)
      val format = parsed.getOrElse("format", "parquet").toLowerCase
      graft.catalog.Sinks.copyTo(frame, path, format, parsed - "format")
      commandOk(spark)
    case _ =>
      spark.sql(PgDialect.rewrite(registerTableFunctions(spark,
        rewriteAsOf(spark, sql))))
  }

  /** MERGE INTO statement router — parses the delta-spark clause surface
    * (WHEN MATCHED [AND]/NOT MATCHED [AND]/NOT MATCHED BY SOURCE [AND],
    * UPDATE SET / DELETE / INSERT) and dispatches by attach format to the
    * native [[graft.catalog.DeltaSink.mergeInto]] /
    * [[graft.catalog.IcebergSink.mergeInto]] writers. The full
    * delta-spark surface routes: conditional UPDATE / DELETE / INSERT
    * clauses, BOTH clause orders within a family (SQL first-match — the
    * listed order passes to the writers as a flag), and non-identity
    * `INSERT (cols) VALUES (exprs)` (routed as an insert projection;
    * omitted columns NULL-fill). Remaining inexpressible shapes reject
    * LOUDLY, never silently re-order. */
  private def runMergeInto(spark: SparkSession, sql: String): DataFrame = {
    def bad(msg: String): Nothing =
      throw new IllegalArgumentException(s"MERGE INTO: $msg")
    val intoIdx = topLevelKeyword(sql, "INTO", 0)
    val usingIdx = topLevelKeyword(sql, "USING", intoIdx + 4)
    if (usingIdx < 0) bad("missing USING")
    val onIdx = topLevelKeyword(sql, "ON", usingIdx + 5)
    if (onIdx < 0) bad("missing ON")
    val firstWhen = topLevelKeyword(sql, "WHEN", onIdx + 2)
    if (firstWhen < 0) bad("at least one WHEN clause is required")
    val targetPart = sql.substring(intoIdx + 4, usingIdx).trim
    val sourcePart = sql.substring(usingIdx + 5, onIdx).trim
    val condRaw = sql.substring(onIdx + 2, firstWhen).trim
    val clauses = scala.collection.mutable.ArrayBuffer[String]()
    var rest = sql.substring(firstWhen).trim.stripSuffix(";").trim
    while (rest.nonEmpty) {
      val nxt = topLevelKeyword(rest, "WHEN", 4)
      if (nxt < 0) { clauses += rest.trim; rest = "" }
      else { clauses += rest.substring(0, nxt).trim; rest = rest.substring(nxt) }
    }

    def nameAlias(part: String): (String, Option[String]) = {
      val toks = part.split("\\s+").filter(_.nonEmpty).toSeq
      val t2 = if (toks.length >= 2 && toks(1).equalsIgnoreCase("AS"))
        toks.head +: toks.drop(2) else toks
      t2 match {
        case Seq(nm) => (nm, None)
        case Seq(nm, al) => (nm, Some(al))
        case _ => bad(s"cannot parse `$part` as <name> [AS] [alias]")
      }
    }
    val (tgtName0, tgtAliasOpt) = nameAlias(targetPart)
    val tgtName = tgtName0.stripPrefix("\"").stripSuffix("\"")
    val tAlias = tgtAliasOpt.getOrElse(tgtName)
    val (srcFrame, sAlias) =
      if (sourcePart.startsWith("(")) {
        var depth = 0; var i = 0; var end = -1; var inStr = false
        while (i < sourcePart.length && end < 0) {
          val c = sourcePart.charAt(i)
          if (inStr) { if (c == '\'') inStr = false }
          else if (c == '\'') inStr = true
          else if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        if (end < 0) bad("unbalanced parens in the USING source")
        val alToks = sourcePart.substring(end + 1).trim
          .split("\\s+").filter(_.nonEmpty).toSeq
        val al = alToks match {
          case Seq(a) => a
          case Seq(as_, a) if as_.equalsIgnoreCase("AS") => a
          case _ => bad("USING (subquery) requires an alias")
        }
        (executePg(spark, sourcePart.substring(1, end)), al)
      } else {
        val (nm, al) = nameAlias(sourcePart)
        (executePg(spark, s"SELECT * FROM $nm"),
          al.getOrElse(nm.stripPrefix("\"").stripSuffix("\"")))
      }
    if (tAlias.equalsIgnoreCase(sAlias))
      bad(s"target and source carry the same alias `$tAlias`")
    // rewrite BOTH aliases to the writers' fixed t./s. in ONE pass (a
    // sequential replace would corrupt swapped aliases like t↔s) —
    // quote-aware: alias-shaped tokens inside string literals and
    // double-quoted identifiers stay verbatim
    val aliasPat = ("(?i)\\b(" + java.util.regex.Pattern.quote(tAlias) + "|" +
      java.util.regex.Pattern.quote(sAlias) + ")\\s*\\.").r
    def aliasRw(text: String): String =
      PgDialect.segments(text).map { case (seg, quoted) =>
        if (quoted) seg
        else aliasPat.replaceAllIn(seg, m =>
          if (m.group(1).equalsIgnoreCase(tAlias)) "t." else "s.")
      }.mkString

    val (fmt, attachOpts) = graft.catalog.Catalog.attachedMeta(tgtName).getOrElse(
      bad(s"`$tgtName` is not an attached foreign table"))
    val root = attachOpts.getOrElse("files",
      bad(s"`$tgtName`: attach carries no files path"))
    val tableCols = spark.table(tgtName).schema.fieldNames.toSeq

    val nmsHead = """(?is)^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.+))?$""".r
    val nmHead = """(?is)^WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?\s*(?:AND\s+(.+))?$""".r
    val mHead = """(?is)^WHEN\s+MATCHED\s*(?:AND\s+(.+))?$""".r
    val updAct = """(?is)^UPDATE\s+SET\s+(.+)$""".r
    val delAct = """(?is)^DELETE$""".r
    val insStarAct = """(?is)^INSERT\s*\*$""".r
    val insAct = """(?is)^INSERT\s*\((.+?)\)\s*VALUES\s*\((.+)\)$""".r

    // matched clauses collect IN STATEMENT ORDER — the writers apply SQL
    // first-match over the list, so any number of conditional UPDATE and
    // DELETE clauses route in either order
    val matchedClauses =
      scala.collection.mutable.ArrayBuffer[graft.catalog.MergeMatchedClause]()
    val bySourceClauses =
      scala.collection.mutable.ArrayBuffer[graft.catalog.MergeMatchedClause]()
    val insertClauses =
      scala.collection.mutable.ArrayBuffer[graft.catalog.MergeInsertClause]()

    def parseSet(list: String): Map[String, String] =
      splitTopLevel(list).map { item =>
        val i = item.indexOf('=')
        if (i <= 0) bad(s"malformed SET item `${item.trim}`")
        val k0 = aliasRw(item.take(i).trim)
        val k = (if (k0.toLowerCase.startsWith("t.")) k0.drop(2) else k0)
          .trim.stripPrefix("\"").stripSuffix("\"")
        k -> PgDialect.rewrite(aliasRw(item.drop(i + 1).trim))
      }.toMap
    def condOf(c: String): Option[String] =
      Option(c).map(x => PgDialect.rewrite(aliasRw(x.trim)))

    clauses.zipWithIndex.foreach { case (cl, idx) =>
      val thenIdx = topLevelKeyword(cl, "THEN", 0)
      if (thenIdx < 0) bad(s"clause `${cl.take(60)}` has no THEN")
      val head = cl.substring(0, thenIdx).trim
      val action = cl.substring(thenIdx + 4).trim
      head match {
        case nmsHead(c) => action match {
          case updAct(setList) =>
            bySourceClauses += graft.catalog.MergeMatchedClause(
              condOf(c), Some(parseSet(setList)))
          case delAct() =>
            bySourceClauses += graft.catalog.MergeMatchedClause(condOf(c), None)
          case other => bad(
            s"NOT MATCHED BY SOURCE supports UPDATE SET / DELETE, got `${other.take(40)}`")
        }
        case mHead(c) => action match {
          case updAct(setList) =>
            matchedClauses += graft.catalog.MergeMatchedClause(
              condOf(c), Some(parseSet(setList)))
          case delAct() =>
            matchedClauses += graft.catalog.MergeMatchedClause(condOf(c), None)
          case other => bad(
            s"WHEN MATCHED supports UPDATE SET / DELETE, got `${other.take(40)}`")
        }
        case nmHead(c) =>
          action match {
            case insStarAct() =>
              insertClauses += graft.catalog.MergeInsertClause(condOf(c), None)
            case insAct(colsList, valsList) =>
              val cols = splitTopLevel(colsList)
                .map(_.trim.stripPrefix("\"").stripSuffix("\""))
              val vals = splitTopLevel(valsList)
                .map(v => PgDialect.rewrite(aliasRw(v.trim)))
              if (cols.length != vals.length) bad("INSERT column/value counts differ")
              // resolve listed names to the table's columns (case-insensitive)
              val byLower = tableCols.map(c => c.toLowerCase -> c).toMap
              val resolved = cols.map { cc =>
                byLower.getOrElse(cc.toLowerCase,
                  bad(s"INSERT column `$cc` is not in the table schema"))
              }
              if (resolved.distinct.length != resolved.length)
                bad("INSERT lists a column twice")
              val identity = resolved.map(_.toLowerCase).toSet ==
                tableCols.map(_.toLowerCase).toSet &&
                resolved.zip(vals).forall { case (cc, vv) =>
                  val v = vv.toLowerCase.replaceAll("\\s+", "")
                  v == s"s.${cc.toLowerCase}" || v == cc.toLowerCase
                }
              // identity = whole-source-row insert (the writers' native
              // shape); anything else routes as a projection — VALUES
              // expression per column, omitted columns NULL-fill
              insertClauses += graft.catalog.MergeInsertClause(condOf(c),
                if (identity) None else Some(resolved.zip(vals).toMap))
            case other => bad(s"WHEN NOT MATCHED supports INSERT, got `${other.take(40)}`")
          }
        case other => bad(s"cannot parse clause head `${other.take(60)}`")
      }
    }

    // delta-spark's reachability rule: a clause with no AND condition
    // claims every row reaching it, so any LATER clause in the same
    // family is dead code — reject the typo loudly (first-match would
    // still be deterministic, but a silently-dead clause is never what
    // the author meant)
    def rejectDead(fam: String, conds: Seq[Option[String]]): Unit = {
      val i = conds.indexWhere(_.isEmpty)
      if (i >= 0 && i < conds.length - 1) bad(
        s"$fam clause ${i + 1} has no AND condition, so the later $fam " +
          "clauses are unreachable — only the last clause of a family may " +
          "omit its condition")
    }
    rejectDead("WHEN MATCHED", matchedClauses.map(_.cond).toSeq)
    rejectDead("WHEN NOT MATCHED BY SOURCE", bySourceClauses.map(_.cond).toSeq)
    rejectDead("WHEN NOT MATCHED", insertClauses.map(_.cond).toSeq)

    // every clause family passes IN STATEMENT ORDER — the writers apply
    // SQL first-match over each list
    val cond = PgDialect.rewrite(aliasRw(condRaw))
    val (nUpd, nIns) = fmt.toLowerCase match {
      case "delta" =>
        graft.catalog.DeltaSink.mergeInto(spark, root, srcFrame, cond,
          matchedClauses = matchedClauses.toSeq,
          bySourceClauses = bySourceClauses.toSeq,
          insertClauses = insertClauses.toSeq)
      case "iceberg" =>
        graft.catalog.IcebergSink.mergeInto(spark, root, srcFrame, cond,
          matchedClauses = matchedClauses.toSeq,
          bySourceClauses = bySourceClauses.toSeq,
          insertClauses = insertClauses.toSeq)
      case other => bad(
        s"MERGE is implemented for delta and iceberg attaches (got format `$other`)")
    }
    graft.catalog.Catalog.attach(spark, tgtName, fmt, attachOpts)
    import spark.implicits._
    Seq((nUpd, nIns)).toDF("rows_updated", "rows_inserted")
  }

  /** Run a multi-statement PG script — the shape the reference's fixtures
    * emit (one string holding wrapper;server;mapping;table, e.g.
    * tests/tests/fixtures/arrow.rs:330-340) — statement by statement
    * through executePg. Returns the last statement's frame. Quote-aware
    * split: a `;` inside a string literal stays literal text. */
  def executePgScript(spark: SparkSession, sql: String): DataFrame = {
    val stmts = mutable.ArrayBuffer[String]()
    val cur = new StringBuilder
    PgDialect.segments(sql).foreach { case (seg, quoted) =>
      if (quoted) cur.append(seg)
      else {
        var rest = seg
        var i = rest.indexOf(';')
        while (i >= 0) {
          cur.append(rest.substring(0, i)); stmts += cur.toString; cur.clear()
          rest = rest.substring(i + 1)
          i = rest.indexOf(';')
        }
        cur.append(rest)
      }
    }
    stmts += cur.toString
    val nonEmpty = stmts.map(_.trim).filter(_.nonEmpty)
    if (nonEmpty.isEmpty) return commandOk(spark)
    nonEmpty.map(executePg(spark, _)).last
  }
}
