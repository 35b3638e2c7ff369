package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.catalog.{DeltaSink, MergeInsertClause, MergeMatchedClause, Sinks}
import graft.sources.DeltaNative

/** PROTOCOL.md writer obligations on FOREIGN tables: a writer must
  * implement every feature the table's protocol demands (or refuse), must
  * honor delta.appendOnly, and must enforce CHECK constraints / column
  * invariants / NOT NULL on every row it adds. Fixtures are hand-written
  * log JSON straight from the public protocol text, so the gates are
  * tested against the FORMAT, not against this writer's own output. */
class DeltaWriterGatesSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(dir: File, conf: String, minWriter: Int = 3,
      schemaExtra: String = "", features: String = ""): String = {
    val root = new File(dir, "t"); root.mkdirs()
    val log = new File(root, "_delta_log"); log.mkdirs()
    val data = Seq((1L, 10.0)).toDF("id", "x").coalesce(1)
    val tmp = new File(dir, "seed")
    data.write.parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, new File(root, "part-0.parquet").toPath)
    val schemaJson =
      ("""{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"id\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},""" +
        """{\"name\":\"x\",\"type\":\"double\",\"nullable\":true,\"metadata\":{""" +
        schemaExtra + """}}]}""")
    val protoLine =
      if (features.nonEmpty)
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"readerFeatures":[],"writerFeatures":[$features]}}"""
      else s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":$minWriter}}"""
    java.nio.file.Files.writeString(
      new File(log, f"${0L}%020d.json").toPath,
      s"""$protoLine
         |{"metaData":{"id":"gates-test","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{$conf},"createdTime":0}}
         |{"add":{"path":"part-0.parquet","partitionValues":{},"size":${new File(root, "part-0.parquet").length()},"modificationTime":0,"dataChange":true}}
         |""".stripMargin)
    root.getPath
  }

  test("CHECK constraints reject violating appends; conforming rows pass") {
    val dir = tempDir("gates")
    val root = writeTable(dir, """"delta.constraints.x_positive":"x > 0"""")
    // conforming append commits
    DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root, Map.empty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 2)
    // violating append rejects WHOLE (null id also guarded separately)
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((3L, -1.0)).toDF("id", "x"), root, Map.empty)
    }
    assert(e.getMessage.contains("x_positive") && e.getMessage.contains("violated"))
    assert(DeltaNative.read(spark, root, Map.empty).count() === 2, "no partial write")
    // NULL check-result passes (SQL CHECK semantics)
    DeltaSink.write(Seq((4L, Option.empty[Double])).toDF("id", "x"), root, Map.empty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 3)
  }

  test("CHECK constraints gate UPDATE images and MERGE outputs too") {
    val dir = tempDir("gates")
    val root = writeTable(dir, """"delta.constraints.x_positive":"x > 0"""")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.updateWhere(spark, root, "id = 1", Map("x" -> "-5.0"))
    }
    assert(e.getMessage.contains("x_positive"))
    val e2 = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.mergeInto(spark, root, Seq((9L, -2.0)).toDF("id", "x"),
        "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("x" -> "s.x")))),
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert(e2.getMessage.contains("x_positive"))
    // untouched after both rejects
    assert(DeltaNative.read(spark, root, Map.empty)
      .agg(sum("x")).head().getDouble(0) === 10.0)
  }

  test("column invariants and NOT NULL enforce on append") {
    val dir = tempDir("gates")
    val root = writeTable(dir, "", minWriter = 2,
      schemaExtra = """\"delta.invariants\":\"{\\\"expression\\\":{\\\"expression\\\":\\\"x < 100\\\"}}\"""")
    DeltaSink.write(Seq((2L, 50.0)).toDF("id", "x"), root, Map.empty)
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((3L, 200.0)).toDF("id", "x"), root, Map.empty)
    }
    assert(e.getMessage.contains("invariant"))
    // id is nullable=false in the table schema: a null id rejects
    val e2 = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((Option.empty[Long], 1.0)).toDF("id", "x"), root, Map.empty)
    }
    assert(e2.getMessage.contains("NOT NULL"))
  }

  test("delta.appendOnly permits appends, forbids DELETE/UPDATE/MERGE/overwrite") {
    val dir = tempDir("gates")
    val root = writeTable(dir, """"delta.appendOnly":"true"""")
    DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root, Map.empty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 2)
    Seq(
      () => DeltaSink.deleteWhere(spark, root, "id = 1"),
      () => DeltaSink.updateWhere(spark, root, "id = 1", Map("x" -> "0.0")),
      () => DeltaSink.mergeInto(spark, root, Seq((1L, 0.0)).toDF("id", "x"),
        "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("x" -> "s.x")))),
        insertClauses = Seq(MergeInsertClause(None, None))),
      () => DeltaSink.write(Seq((9L, 9.0)).toDF("id", "x"), root,
        Map("overwrite" -> "true"))
    ).foreach { op =>
      val e = intercept[DeltaNative.DeltaReadException] { op() }
      assert(e.getMessage.contains("appendOnly"), e.getMessage)
    }
  }

  test("unimplemented writer features refuse to write; implemented ones pass") {
    val dir = tempDir("gates")
    // liquid clustering demands writer behavior (cluster maintenance) we
    // deliberately don't implement — the gate must refuse
    val root = writeTable(dir, "\"delta.constraints.x_pos\":\"x > 0\"",
      features = "\"clustering\",\"appendOnly\",\"checkConstraints\"")
    val statements: Seq[(String, () => Any)] = Seq(
      "append" -> (() => DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root, Map.empty)),
      "ADD CONSTRAINT" -> (() => DeltaSink.addCheckConstraint(spark, root, "x_small", "x < 100")),
      "DROP CONSTRAINT" -> (() => DeltaSink.dropCheckConstraint(spark, root, "x_pos")),
      "SET TBLPROPERTIES" -> (() => DeltaSink.setTableProperties(spark, root, Map("k" -> "v"))),
      "ADD COLUMN" -> (() => DeltaSink.addColumn(spark, root, "y", "int")),
      "DROP COLUMN" -> (() => DeltaSink.dropColumn(spark, root, "x")),
      "RENAME COLUMN" -> (() => DeltaSink.renameColumn(spark, root, "x", "x2")),
      "REORG PURGE" -> (() => DeltaSink.purgeDeletionVectors(spark, root)))
    statements.foreach { case (name, run) =>
      val e = intercept[DeltaNative.DeltaReadException](run())
      assert(e.getMessage.contains("clustering"), s"$name: ${e.getMessage}")
    }
    // nothing committed: the log still ends at the fixture's version 0
    assert(new File(root, "_delta_log").list().filter(_.endsWith(".json")).toSeq ===
      Seq(f"${0L}%020d.json"))
    // a v7 table demanding only features we implement writes fine
    val dir2 = tempDir("gates")
    val root2 = writeTable(dir2, "",
      features = "\"appendOnly\",\"invariants\",\"checkConstraints\"")
    DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root2, Map.empty)
    assert(DeltaNative.read(spark, root2, Map.empty).count() === 2)
  }

  test("constraint DDL: ADD/DROP CONSTRAINT + SET TBLPROPERTIES install the gates") {
    import graft.catalog.{Catalog, Sinks}
    import graft.sqlapi.SqlApi
    val dir = tempDir("gates")
    val root = new File(dir, "ddl").getPath
    Sinks.copyTo(Seq((1L, 5.0), (2L, 7.0)).toDF("id", "x").coalesce(1), root, "delta")
    Catalog.attach(spark, "gates_ddl_t", "delta", Map("files" -> root))
    // existing rows violate → ADD CONSTRAINT itself rejects, nothing commits
    val pre = intercept[DeltaNative.DeltaReadException] {
      SqlApi.executePg(spark, "ALTER TABLE gates_ddl_t ADD CONSTRAINT x_big CHECK (x > 6)")
    }
    assert(pre.getMessage.contains("existing row"))
    // a satisfiable constraint installs; the NEXT bad write dies on it
    SqlApi.executePg(spark, "ALTER TABLE gates_ddl_t ADD CONSTRAINT x_pos CHECK (x > 0)")
    DeltaSink.write(Seq((3L, 1.0)).toDF("id", "x"), root, Map.empty)
    val bad = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((4L, -1.0)).toDF("id", "x"), root, Map.empty)
    }
    assert(bad.getMessage.contains("x_pos"))
    // protocol carries the obligation now (legacy bump to writer 3)
    val metaLines = new File(root, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
    assert(metaLines.exists(_.contains("\"minWriterVersion\":3")))
    // DROP frees it
    SqlApi.executePg(spark, "ALTER TABLE gates_ddl_t DROP CONSTRAINT x_pos")
    DeltaSink.write(Seq((4L, -1.0)).toDF("id", "x"), root, Map.empty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 4)
    // SET TBLPROPERTIES: appendOnly installs and bites; other delta.* reject
    SqlApi.executePg(spark,
      "ALTER TABLE gates_ddl_t SET TBLPROPERTIES ('delta.appendOnly'='true')")
    val ao = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.deleteWhere(spark, root, "id = 1")
    }
    assert(ao.getMessage.contains("appendOnly"))
    val refuse = intercept[DeltaNative.DeltaReadException] {
      SqlApi.executePg(spark,
        "ALTER TABLE gates_ddl_t SET TBLPROPERTIES ('delta.enableChangeDataFeed'='true')")
    }
    assert(refuse.getMessage.contains("refusing"))
  }

  test("shallow clone: zero-copy snapshot; clone DML leaves the source untouched") {
    import graft.catalog.Sinks
    val dir = tempDir("gates")
    val src = new File(dir, "src").getPath
    val dst = new File(dir, "clone").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .repartition(2), src, "delta")
    assert(DeltaSink.shallowClone(spark, src, dst) === 2L) // 2 live files
    // no data bytes moved: the clone dir holds ONLY the log
    val cloneFiles = new File(dst).listFiles().map(_.getName).toSet
    assert(cloneFiles === Set("_delta_log"))
    assert(DeltaNative.read(spark, dst, Map.empty)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // DML on the clone: source unchanged, clone diverges
    DeltaSink.deleteWhere(spark, dst, "id = 2")
    DeltaSink.write(Seq((9L, "z")).toDF("id", "v"), dst, Map.empty)
    assert(DeltaNative.read(spark, dst, Map.empty)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 9L))
    assert(DeltaNative.read(spark, src, Map.empty)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // guards: existing destination and DV-carrying sources reject
    assert(intercept[DeltaNative.DeltaReadException] {
      DeltaSink.shallowClone(spark, src, dst)
    }.getMessage.contains("fresh destination"))
    val dvSrc = new File(dir, "dvsrc").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dvSrc, "delta")
    DeltaSink.deleteWhereDv(spark, dvSrc, "id = 2")
    assert(intercept[DeltaNative.DeltaReadException] {
      DeltaSink.shallowClone(spark, dvSrc, new File(dir, "dvclone").getPath)
    }.getMessage.contains("deletion vectors"))
  }

  test("clone + maintenance SQL: SHALLOW CLONE LOCATION and CALL system.* route natively") {
    import graft.catalog.{Catalog, Sinks}
    import graft.sqlapi.SqlApi
    val dir = tempDir("gates")
    val src = new File(dir, "sqlsrc").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), src, "delta")
    Catalog.attach(spark, "clone_sql_src", "delta", Map("files" -> src))
    val dst = new File(dir, "sqlclone").getPath
    SqlApi.executePg(spark,
      s"CREATE TABLE clone_sql_copy SHALLOW CLONE clone_sql_src LOCATION '$dst'")
    assert(SqlApi.executePg(spark, "SELECT count(*) AS n FROM clone_sql_copy")
      .head().getLong(0) === 2L)
    // iceberg maintenance procedures over an attached table
    val ice = new File(dir, "sqlice").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v").coalesce(1), ice, "iceberg")
    Catalog.attach(spark, "maint_sql_t", "iceberg", Map("files" -> ice))
    SqlApi.executePg(spark, "ALTER TABLE maint_sql_t CREATE BRANCH stage")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v").coalesce(1), ice, "iceberg",
      Map("branch" -> "stage"))
    SqlApi.executePg(spark, "CALL system.fast_forward('maint_sql_t', 'stage')")
    assert(SqlApi.executePg(spark, "SELECT count(*) AS n FROM maint_sql_t")
      .head().getLong(0) === 2L)
    val orphan = new File(ice, "data/orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1))
    SqlApi.executePg(spark, "CALL system.remove_orphan_files('maint_sql_t', 0)")
    assert(!orphan.exists())
    SqlApi.executePg(spark, "CALL system.expire_snapshots('maint_sql_t', 0)")
    assert(SqlApi.executePg(spark, "SELECT count(*) AS n FROM maint_sql_t")
      .head().getLong(0) === 2L)
  }

  test("generated columns enforce their expression; expression-free tables append freely") {
    val dir = tempDir("gates")
    // minWriter 4 implies generatedColumns; schema has NO generation
    // expression → append is legal
    val root = writeTable(dir, "", minWriter = 4)
    DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root, Map.empty)
    // x CARRIES a generation expression: a supplied value that VIOLATES it
    // rejects whole; a consistent one (or an omitted column) lands
    val dir2 = tempDir("gates")
    val root2 = writeTable(dir2, "", minWriter = 4,
      schemaExtra = """\"delta.generationExpression\":\"id * 2\"""")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((2L, 5.0)).toDF("id", "x"), root2, Map.empty)
    }
    assert(e.getMessage.contains("generated column"))
    DeltaSink.write(Seq((2L, 4.0)).toDF("id", "x"), root2, Map.empty)
    DeltaSink.write(Seq(3L).toDF("id"), root2, Map.empty) // computed
    assert(DeltaNative.read(spark, root2, Map.empty).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((1L, 10.0), (2L, 4.0), (3L, 6.0))) // the seed row pre-dates the expression
  }
}
