package graft

import graft.sqlapi.{SniffCsv, SqlApi}

class SqlApiSpec extends SparkSpec {

  test("explain pg style summarizes; analyze adds wall-clock") {
    Tables.registerAll(spark, sf)
    val plain = SqlApi.explain(spark, "SELECT count(*) FROM lineitem", "pg")
    assert(plain.startsWith("Engine Scan:"))
    assert(!plain.contains("Execution Time"))
    val analyzed = SqlApi.explain(spark, "SELECT count(*) FROM lineitem", "pg", analyze = true)
    assert(analyzed.contains("Execution Time"))
  }

  test("EXPLAIN ANALYZE reports compile cost; a repeated shape compiles nothing") {
    Tables.registerAll(spark, sf)
    // an int literal no other query uses is inlined into the generated
    // Java, so the first run compiles its classes
    val q = "SELECT l_returnflag, sum(l_linenumber * 7919) FROM lineitem GROUP BY 1"
    val line = """Codegen: (\d+) classes compiled in [0-9.]+ ms""".r
    def classes(out: String): Long =
      line.findFirstMatchIn(out).map(_.group(1).toLong).getOrElse(fail(out))
    val first = SqlApi.explain(spark, q, "duckdb", analyze = true)
    assert(first.indexOf("Codegen:") > first.indexOf("Execution Time"))
    assert(classes(first) > 0L)
    assert(classes(SqlApi.explain(spark, q, "duckdb", analyze = true)) === 0L)
    assert(classes(SqlApi.explain(spark, q, "pg", analyze = true)) === 0L)
    assert(!SqlApi.explain(spark, q, "duckdb").contains("Codegen:"))
    assert(!SqlApi.explain(spark, q, "pg").contains("Codegen:"))
  }

  test("explain duckdb style returns the full physical plan") {
    Tables.registerAll(spark, sf)
    val out = SqlApi.explain(spark, "SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1", "duckdb")
    assert(out.contains("Physical Plan"))
    assert(out.contains("HashAggregate"))
  }

  test("unknown explain style errors") {
    intercept[IllegalArgumentException] { SqlApi.explain(spark, "SELECT 1", "verbose") }
  }

  test("EXPLAIN ANALYZE executes the actual plan, not a count shortcut") {
    // raise_error only fires when the projection is MATERIALIZED; the old
    // count() timing path let Catalyst prune the projection away, so it
    // timed a different (sometimes metadata-only) plan than the query
    val e = intercept[Exception] {
      SqlApi.explain(spark, "SELECT raise_error('analyzed for real') AS x",
        style = "duckdb", analyze = true)
    }
    assert(Option(e.getMessage).exists(_.contains("analyzed for real")))
    // without analyze, explain must stay plan-only — nothing executes
    val out = SqlApi.explain(spark, "SELECT raise_error('never runs') AS x",
      style = "duckdb", analyze = false)
    assert(!out.contains("Execution Time"))
  }

  test("prepare/execute/deallocate with $n parameters") {
    Tables.registerAll(spark, sf)
    val reg = SqlApi.newPreparedRegistry()
    reg.prepare("q", "SELECT count(*) AS n FROM lineitem WHERE l_quantity > $1")
    val n10 = reg.execute(spark, "q", Seq(10)).head().getLong(0)
    val n40 = reg.execute(spark, "q", Seq(40)).head().getLong(0)
    assert(n10 > n40)
    reg.deallocate("q")
    intercept[IllegalArgumentException] { reg.execute(spark, "q", Seq(1)) }
  }

  test("$n parameters bind by index, not textual position") {
    // reference semantics (src/hooks/utility/prepare.rs:27-108): $1 is always
    // the FIRST argument even when it appears last in the text.
    val reg = SqlApi.newPreparedRegistry()
    spark.sql("SELECT * FROM VALUES ('a', 1), ('b', 2), ('c', 3) AS t(k, v)")
      .createOrReplaceTempView("kv_params")
    reg.prepare("oo", "SELECT count(*) AS n FROM kv_params WHERE v = $2 AND k = $1")
    assert(reg.execute(spark, "oo", Seq("b", 2)).head().getLong(0) === 1)
    assert(reg.execute(spark, "oo", Seq("b", 3)).head().getLong(0) === 0)
    // repeated marker binds the same argument twice
    reg.prepare("rep", "SELECT count(*) AS n FROM kv_params WHERE v = $1 OR v = $1")
    assert(reg.execute(spark, "rep", Seq(2)).head().getLong(0) === 1)
    // out-of-range index errors
    intercept[IllegalArgumentException] { reg.execute(spark, "oo", Seq("b")) }
  }

  test("explain pg style falls through to the plan for non-SELECT") {
    val out = SqlApi.explain(spark, "CREATE TEMP VIEW _explain_v AS SELECT 1 AS one", "pg")
    assert(!out.startsWith("Engine Scan:"))
    spark.catalog.dropTempView("_explain_v")
  }

  test("execute re-resolves names at execute time (reference semantics)") {
    val reg = SqlApi.newPreparedRegistry()
    spark.range(3).toDF("x").createOrReplaceTempView("swap_t")
    reg.prepare("p", "SELECT count(*) AS n FROM swap_t")
    assert(reg.execute(spark, "p").head().getLong(0) === 3)
    spark.range(7).toDF("x").createOrReplaceTempView("swap_t")
    assert(reg.execute(spark, "p").head().getLong(0) === 7)
  }

  test("pg dialect rewriter: casts, type names, bytea literals, string safety") {
    import graft.sqlapi.PgDialect.rewrite
    assert(rewrite("SELECT a::int8 FROM t") === "SELECT CAST(a AS BIGINT) FROM t")
    assert(rewrite("SELECT (a + b)::float8") === "SELECT CAST((a + b) AS DOUBLE)")
    assert(rewrite("SELECT '123'::int4") === "SELECT CAST('123' AS INT)")
    assert(rewrite("SELECT a::int2::text") ===
      "SELECT CAST(CAST(a AS SMALLINT) AS STRING)")
    assert(rewrite("SELECT x::numeric(12,2)") === "SELECT CAST(x AS NUMERIC(12,2))")
    assert(rewrite("SELECT E'\\xDEAD'::bytea") === "SELECT CAST(X'DEAD' AS BINARY)")
    assert(rewrite("SELECT '\\xAB'") === "SELECT X'AB'")
    // quoted content is never touched
    assert(rewrite("SELECT 'a::b' AS s") === "SELECT 'a::b' AS s")
    assert(rewrite("SELECT 'it''s::fine'") === "SELECT 'it''s::fine'")
  }

  test("executePg runs reference-flavored SQL end to end") {
    val r = SqlApi.executePg(spark,
      "SELECT 5::int8 AS n, E'\\xAB'::bytea AS b, 'x::y' AS s").head()
    assert(r.getLong(0) === 5L)
    assert(r.getAs[Array[Byte]](1).toSeq === Seq(0xAB.toByte))
    assert(r.getString(2) === "x::y")
  }

  test("settings() exposes conf as a table") {
    val df = SqlApi.settings(spark)
    assert(df.columns.toSeq === Seq("name", "value", "description", "input_type", "scope"))
    assert(df.count() > 0)
  }

  test("extensions() lists formats with availability") {
    val rows = SqlApi.extensions(spark).collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(rows("parquet"))
    assert(rows.contains("delta") && rows.contains("iceberg"))
  }

  test("parquet_schema reads footer physical types") {
    val df = SqlApi.parquetSchema(spark, s"$sf/lineitem.parquet")
    val byName = df.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(byName("l_orderkey") === "INT64")
    assert(byName("l_returnflag") === "BINARY")
    assert(byName("l_quantity") === "DOUBLE")
  }

  test("parquet_schema on a hive-partitioned dir lists all leaf footers") {
    // files live under key=value subdirectories — the path form must
    // recurse, not return a silent empty frame
    val dir = tempDir("pschema_hive")
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "grp")
      .write.partitionBy("grp").parquet(s"$dir/t")
    val df = SqlApi.parquetSchema(spark, s"$dir/t")
    val files = df.collect().map(_.getString(0)).distinct
    assert(files.length === 2)
    assert(files.forall(f => f.contains("grp=a") || f.contains("grp=b")))
  }

  test("parquet_schema on a dir with no parquet errors loudly") {
    val dir = tempDir("pschema_none")
    new java.io.File(dir, "sub").mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir, "notes.txt").toPath, "x")
    val e = intercept[IllegalArgumentException] {
      SqlApi.parquetSchema(spark, dir.getPath)
    }
    assert(e.getMessage.contains("no .parquet files"))
  }

  test("parquet_describe shows engine-visible logical types") {
    val df = SqlApi.parquetDescribe(spark, s"$sf/lineitem.parquet")
    // full reference column parity incl. its always-NULL key/default/extra
    // (reference: src/api/parquet.rs:53-71)
    assert(df.columns.toSeq ===
      Seq("column_name", "column_type", "null", "key", "default", "extra"))
    val rows = df.collect()
    val byName = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byName("l_orderkey") === "bigint")
    assert(byName("l_returnflag") === "text")
    assert(rows.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
  }

  test("sniff_csv detects dialect") {
    val dir = tempDir("sniff")
    val p = writeText(dir, "data.csv",
      "id;name;score\n1;alice;1.5\n2;bob;2.25\n3;carol;3.75\n")
    val d = SniffCsv.sniff(spark, p)
    assert(d.delimiter === ";")
    assert(d.hasHeader)
    assert(d.columns.map(_._1) === Seq("id", "name", "score"))
    assert(d.columns.toMap.apply("score") === "DOUBLE")
    val df = SniffCsv.sniffDf(spark, p)
    assert(df.columns.contains("user_arguments"))
    assert(df.head().getBoolean(5)) // has_header
  }

  test("sniff_csv on headerless tab-separated data") {
    val dir = tempDir("sniff2")
    val p = writeText(dir, "raw.tsv", "1\t2.5\tx\n2\t3.5\ty\n3\t4.5\tz\n")
    val d = SniffCsv.sniff(spark, p)
    assert(d.delimiter === "\t")
    assert(!d.hasHeader)
  }

  test("sniff_csv detects skip_rows preamble and date/timestamp formats") {
    val dir = tempDir("sniff3")
    val p = writeText(dir, "pre.csv",
      "generated by tool v1.2\nexport 2024\n" + // 1-field preamble
        "id,day,seen\n" +
        "1,2023-06-27,2023-06-27T10:34:56.123\n" +
        "2,2023-06-28,2023-06-28T11:00:00.500\n")
    val d = SniffCsv.sniff(spark, p)
    assert(d.skipRows === 2)
    assert(d.hasHeader)
    assert(d.columns.map(_._1) === Seq("id", "day", "seen"))
    assert(d.dateFormat === "%Y-%m-%d")
    assert(d.timestampFormat === "%Y-%m-%dT%H:%M:%S.%f")
    // day-first slash dates disambiguate via a >12 day component
    assert(SniffCsv.detectDateFormat(Seq("27/06/2023")) === Some("%d/%m/%Y"))
    assert(SniffCsv.detectDateFormat(Seq("06/27/2023", "01/02/2023")) === Some("%m/%d/%Y"))
  }

  test("glob/read_text/read_blob table functions: listing + distributed file reads") {
    val dir = tempDir("sqlapi_files")
    java.nio.file.Files.writeString(new java.io.File(dir, "a.txt").toPath, "alpha")
    java.nio.file.Files.writeString(new java.io.File(dir, "b.txt").toPath, "bravo!")
    java.nio.file.Files.writeString(new java.io.File(dir, "c.bin").toPath, "xx")
    // glob: sorted matching paths
    val g = SqlApi.globFiles(spark, s"${dir.getPath}/*.txt").collect().map(_.getString(0))
    assert(g.length === 2 && g(0).endsWith("a.txt") && g(1).endsWith("b.txt"))
    // read_text: content + size; pruning a SELECT filename never reads bytes
    val t = SqlApi.readText(spark, s"${dir.getPath}/*.txt")
      .orderBy("filename").collect()
    assert(t.map(_.getAs[String]("content")).toSeq === Seq("alpha", "bravo!"))
    assert(t.map(_.getAs[Long]("size")).toSeq === Seq(5L, 6L))
    // read_blob: bytes intact
    val b = SqlApi.readBlob(spark, s"${dir.getPath}/c.bin").collect()
    assert(new String(b.head.getAs[Array[Byte]]("content"), "UTF-8") === "xx")
    // SQL-callable through the quote-aware swap
    val viaSql = SqlApi.executePg(spark,
      s"SELECT count(*) AS n FROM read_text('${dir.getPath}/*.txt')")
    assert(viaSql.collect().head.getLong(0) === 2L)
    val viaGlob = SqlApi.executePg(spark,
      s"SELECT * FROM glob('${dir.getPath}/*.txt') ORDER BY file")
    assert(viaGlob.count() === 2L)
  }

  test("parquet_metadata: row-group/chunk rows with stats, table-or-path, SQL-callable") {
    val df = SqlApi.parquetMetadata(spark, s"$sf/lineitem.parquet")
    assert(df.count() > 0)
    val cols = df.columns.toSet
    assert(Set("file_name", "row_group_id", "row_group_num_rows", "path_in_schema",
      "num_values", "total_compressed_size", "stats_min_value", "stats_max_value",
      "compression").subsetOf(cols))
    // chunk stats populated for a plain numeric column
    val key = df.filter(org.apache.spark.sql.functions.col("path_in_schema") === "l_orderkey").collect()
    assert(key.nonEmpty && key.forall(r => r.getAs[String]("stats_min_value") != null))
    // num_values per chunk sums to row counts summed over groups
    val rows = df.filter(org.apache.spark.sql.functions.col("path_in_schema") === "l_orderkey")
      .agg(org.apache.spark.sql.functions.sum("num_values")).head.getLong(0)
    assert(rows === spark.read.parquet(s"$sf/lineitem.parquet").count())
    // attached-table form + SQL-callable swap
    Tables.registerAll(spark, sf)
    val viaSql = SqlApi.executePg(spark,
      "SELECT count(*) AS n FROM parquet_metadata('lineitem')")
    assert(viaSql.collect().head.getLong(0) > 0L)
    // empty dir rejects loudly, not silently zero rows
    val e = intercept[IllegalArgumentException] {
      SqlApi.parquetMetadata(spark, tempDir("sqlapi_pm_empty").getPath)
    }
    assert(e.getMessage.contains("no .parquet files"))
  }

  test("parquet_schema/describe/metadata take an absolute path through executePg") {
    // an absolute path does not parse as a table identifier: it must
    // route to the path form, not throw a ParseException
    val path = new java.io.File(s"$sf/lineitem.parquet").getAbsolutePath
    Seq("parquet_schema", "parquet_describe", "parquet_metadata").foreach { fn =>
      val n = SqlApi.executePg(spark, s"SELECT count(*) AS n FROM $fn('$path')")
        .collect().head.getLong(0)
      assert(n > 0L, fn)
    }
  }

  test("debug flags force observable plan changes (reference debug GUCs)") {
    import graft.sqlapi.DebugFlags
    Tables.registerAll(spark, sf)
    def plan(): String = SqlApi.explain(
      spark, "SELECT l_orderkey FROM lineitem WHERE l_quantity > 30", "duckdb")
    // Plan text prints PushedFilters from the translated dataFilters
    // regardless of the runtime conf (only the reader consults it), so the
    // pushdown flag is pinned at the engine-conf level — the documented
    // switch the reader honors — while codegen is pinned via plan text.
    DebugFlags.set(spark, DebugFlags.DisablePushdown, true)
    try {
      assert(DebugFlags.get(spark, DebugFlags.DisablePushdown))
      assert(spark.conf.get("spark.sql.parquet.filterPushdown") === "false")
      assert(spark.conf.get("spark.sql.csv.filterPushdown") === "false")
    } finally DebugFlags.set(spark, DebugFlags.DisablePushdown, false)
    assert(spark.conf.get("spark.sql.parquet.filterPushdown") === "true")
    DebugFlags.set(spark, DebugFlags.DisableCodegen, true)
    try assert(!plan().contains("codegen id"))
    finally DebugFlags.set(spark, DebugFlags.DisableCodegen, false)
    assert(plan().contains("codegen id"))
    intercept[IllegalArgumentException] { DebugFlags.set(spark, "nope", true) }
  }
  test("maintenance SQL: OPTIMIZE / ZORDER / VACUUM / REORG PURGE route natively") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = tempDir("sqlapi_maint").getPath + "/t"
    // two small delta files -> OPTIMIZE bin-packs them
    graft.catalog.DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root, Map.empty)
    graft.catalog.DeltaSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty)
    graft.catalog.Catalog.attach(spark, "maint_d", "delta", Map("files" -> root))
    val opt = SqlApi.executePg(spark, "OPTIMIZE maint_d").collect().head
    assert(opt.getInt(0) >= 2 && opt.getInt(1) === 1, opt) // 2+ removed, 1 added
    assert(spark.table("maint_d").count() === 2L)
    // DV delete then REORG PURGE through SQL
    graft.catalog.DeltaSink.deleteWhereDv(spark, root, "id = 2")
    val re = SqlApi.executePg(spark, "REORG TABLE maint_d APPLY (PURGE)").collect().head
    assert(re.getLong(1) === 1L, re) // one row dropped
    assert(spark.table("maint_d").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // VACUUM RETAIN 0 HOURS deletes the pre-optimize files
    val vac = SqlApi.executePg(spark, "VACUUM maint_d RETAIN 0 HOURS").collect().head
    assert(vac.getLong(0) >= 2L, vac)
    assert(spark.table("maint_d").count() === 1L)
    // iceberg: OPTIMIZE compacts; ZORDER rejects loudly
    val iroot = tempDir("sqlapi_maint_i").getPath + "/t"
    graft.catalog.IcebergSink.write(Seq((1L, "a")).toDF("id", "v"), iroot, Map.empty)
    graft.catalog.IcebergSink.write(Seq((2L, "b")).toDF("id", "v"), iroot, Map.empty)
    graft.catalog.Catalog.attach(spark, "maint_i", "iceberg", Map("files" -> iroot))
    val iopt = SqlApi.executePg(spark, "OPTIMIZE maint_i").collect().head
    assert(iopt.getInt(0) >= 2, iopt)
    assert(spark.table("maint_i").count() === 2L)
    val e = intercept[IllegalArgumentException] {
      SqlApi.executePg(spark, "OPTIMIZE maint_i ZORDER BY (id)")
    }
    assert(e.getMessage.contains("delta"))
  }
  test("SET graft.delta_dml_strategy routes SQL DELETE/UPDATE through DVs") {
    import spark.implicits._
    val root = tempDir("sqlapi_dvguc").getPath + "/t"
    graft.catalog.DeltaSink.write(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal").coalesce(1),
      root, Map.empty)
    graft.catalog.Catalog.attach(spark, "dvguc_t", "delta", Map("files" -> root))
    try {
      SqlApi.executePg(spark, "SET graft.delta_dml_strategy = 'deletion_vector'")
      val n = SqlApi.executePg(spark, "DELETE FROM dvguc_t WHERE id = 2")
        .collect().head.getLong(0)
      assert(n === 1L)
      // the commit is a DV commit, not a rewrite
      val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$root/_delta_log/00000000000000000001.json"))
      assert(log1.contains("\"deletionVector\""), log1.take(200))
      // purge, then a DV UPDATE through the same GUC
      graft.catalog.DeltaSink.purgeDeletionVectors(spark, root)
      val u = SqlApi.executePg(spark, "UPDATE dvguc_t SET bal = bal + 1 WHERE id = 3")
        .collect().head.getLong(0)
      assert(u === 1L)
      val rows = spark.table("dvguc_t").orderBy("id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows === Seq((1L, 10.0), (3L, 31.0)))
      // bad value rejects naming the valid set
      val e = intercept[IllegalArgumentException] {
        SqlApi.executePg(spark, "SET graft.delta_dml_strategy = 'nope'")
      }
      assert(e.getMessage.contains("copy_on_write"))
    } finally {
      SqlApi.executePg(spark, "SET graft.delta_dml_strategy = 'copy_on_write'")
    }
  }
  test("DESCRIBE and SHOW TABLES: DuckDB-shape introspection over attaches") {
    import spark.implicits._
    val root = tempDir("sqlapi_desc").getPath + "/t"
    graft.catalog.DeltaSink.write(Seq((1L, "a", 2.5)).toDF("id", "v", "x"), root, Map.empty)
    graft.catalog.Catalog.attach(spark, "desc_t", "delta", Map("files" -> root))
    val d = SqlApi.executePg(spark, "DESCRIBE desc_t").collect()
    assert(d.map(r => (r.getString(0), r.getString(1))).toSeq
      === Seq(("id", "bigint"), ("v", "text"), ("x", "double precision")))
    // nullability comes from the declared schema (toDF primitives are NOT NULL)
    assert(d.map(_.getString(2)).toSeq === Seq("NO", "YES", "NO"))
    val tables = SqlApi.executePg(spark, "SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(tables.get("desc_t").contains("delta"))
    val e = intercept[IllegalArgumentException] {
      SqlApi.executePg(spark, "DESCRIBE no_such_table_xyz")
    }
    assert(e.getMessage.contains("no such table"))
  }
  test("SET graft.iceberg_dml_strategy routes SQL DML through puffin DVs") {
    import spark.implicits._
    val root = tempDir("sqlapi_icedv").getPath + "/t"
    graft.catalog.IcebergSink.write(
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal").coalesce(1), root, Map.empty)
    graft.catalog.Catalog.attach(spark, "icedv_t", "iceberg", Map("files" -> root))
    try {
      SqlApi.executePg(spark, "SET graft.iceberg_dml_strategy = 'deletion_vector'")
      val n = SqlApi.executePg(spark, "DELETE FROM icedv_t WHERE id = 2")
        .collect().head.getLong(0)
      assert(n === 1L)
      assert(new java.io.File(root, "data").listFiles()
        .exists(_.getName.endsWith(".puffin")))
      assert(spark.table("icedv_t").collect().map(_.getLong(0)).toSeq === Seq(1L))
      val e = intercept[IllegalArgumentException] {
        SqlApi.executePg(spark, "SET graft.iceberg_dml_strategy = 'nah'")
      }
      assert(e.getMessage.contains("positional"))
    } finally {
      SqlApi.executePg(spark, "SET graft.iceberg_dml_strategy = 'positional'")
    }
  }
}
