package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import graft.catalog.Catalog
import graft.sources.IcebergNative
import org.apache.spark.sql.functions.{col, lit, map, struct, when}

/** Native Iceberg reader against hand-built tables: manifests are written
  * with the stock Avro library and metadata.json by hand, per the public
  * Iceberg table spec — the reader is tested against the FORMAT. */
class IcebergNativeSpec extends SparkSpec {

  // minimal avro schemas carrying exactly the spec fields the reader uses;
  // Avro readers use the file's embedded writer schema, so hand-rolled
  // manifests exercise the same decode path a full writer would
  private val dataFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"r2","fields":[
      {"name":"content","type":["null","int"],"default":null},
      {"name":"file_path","type":"string"},
      {"name":"file_format","type":"string"},
      {"name":"record_count","type":"long"},
      {"name":"file_size_in_bytes","type":["null","long"],"default":null},
      {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      {"name":"referenced_data_file","type":["null","string"],"default":null},
      {"name":"content_offset","type":["null","long"],"default":null},
      {"name":"content_size_in_bytes","type":["null","long"],"default":null},
      {"name":"partition","type":["null",{"type":"record","name":"ptuple","fields":[
        {"name":"p","type":["null","int"],"default":null},
        {"name":"p_bucket","type":["null","int"],"default":null}]}],"default":null}]}""")
  private val entrySchema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int"},
      {"name":"sequence_number","type":["null","long"],"default":null},
      {"name":"data_file","type":${dataFileSchema.toString}}]}""")
  private val manifestListSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string"},
      {"name":"content","type":["null","int"],"default":null},
      {"name":"sequence_number","type":["null","long"],"default":null}]}""")

  /** Per-test schemas whose partition tuple carries EXACTLY the given
    * fields — a delete file's tuple lists its spec's fields, and a null
    * slot now MEANS something (the NULL partition), so tests must not leak
    * unrelated tuple fields into each other. */
  private def schemasFor(tupleFields: Seq[String]): (Schema, Schema) = {
    val fieldsJson = tupleFields
      .map(f => s"""{"name":"$f","type":["null","int"],"default":null}""").mkString(",")
    val df = new Schema.Parser().parse(
      s"""{"type":"record","name":"r2","fields":[
        {"name":"content","type":["null","int"],"default":null},
        {"name":"file_path","type":"string"},
        {"name":"file_format","type":"string"},
        {"name":"record_count","type":"long"},
        {"name":"file_size_in_bytes","type":["null","long"],"default":null},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
        {"name":"partition","type":["null",{"type":"record","name":"ptuple","fields":[
          $fieldsJson]}],"default":null}]}""")
    val e = new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"sequence_number","type":["null","long"],"default":null},
        {"name":"data_file","type":${df.toString}}]}""")
    (df, e)
  }

  private def writeAvro(path: File, schema: Schema, rows: Seq[GenericRecord]): Unit = {
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, path)
    try rows.foreach(w.append) finally w.close()
  }

  /** `partition` values may be null (java.lang.Integer) — an explicit NULL
    * tuple slot. `schemas` defaults to the shared pair; scoped-delete tests
    * pass schemasFor(...) so the tuple shape matches their spec. */
  private def entry(status: Int, filePath: String, content: Option[Int] = None,
      seq: Option[Long] = None, eqIds: Seq[Int] = Nil,
      format: String = "PARQUET",
      partition: Map[String, java.lang.Integer] = Map.empty,
      schemas: (Schema, Schema) = (dataFileSchema, entrySchema),
      dvLocator: Option[(String, Long, Long)] = None): GenericRecord = {
    val (dfSchema, eSchema) = schemas
    val df = new GenericData.Record(dfSchema)
    df.put("content", content.map(Int.box).orNull)
    dvLocator.foreach { case (refFile, off, sz) =>
      df.put("referenced_data_file", refFile)
      df.put("content_offset", Long.box(off))
      df.put("content_size_in_bytes", Long.box(sz))
    }
    if (partition.nonEmpty) {
      val pt = new GenericData.Record(
        dfSchema.getField("partition").schema().getTypes.get(1))
      partition.foreach { case (k, v) => pt.put(k, v) }
      df.put("partition", pt)
    }
    df.put("file_path", filePath)
    df.put("file_format", format)
    df.put("record_count", 1L)
    df.put("file_size_in_bytes", Long.box(partSizes.getOrElse(filePath, 1024L)))
    df.put("equality_ids",
      if (eqIds.isEmpty) null else eqIds.map(Int.box).asJava)
    val e = new GenericData.Record(eSchema)
    e.put("status", status)
    e.put("sequence_number", seq.map(Long.box).orNull)
    e.put("data_file", df)
    e
  }

  private def manifestListRow(path: String, content: Option[Int] = None,
      seq: Option[Long] = None): GenericRecord = {
    val r = new GenericData.Record(manifestListSchema)
    r.put("manifest_path", path)
    r.put("content", content.map(Int.box).orNull)
    r.put("sequence_number", seq.map(Long.box).orNull)
    r
  }

  private val tableSchemaJson =
    """{"type":"struct","schema-id":0,"fields":[
      {"id":1,"name":"id","required":true,"type":"long"},
      {"id":2,"name":"v","required":false,"type":"string"}]}"""

  private def writePart(root: File, sub: String, df: org.apache.spark.sql.DataFrame): String = {
    val tmp = new File(root, s"_tmp_${sub.replace('/', '_')}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(root, sub)
    dest.getParentFile.mkdirs()
    java.nio.file.Files.move(part.toPath, dest.toPath)
    tmp.listFiles().foreach(_.delete()); tmp.delete()
    partSizes(sub) = dest.length()
    sub
  }
  // manifests must declare TRUE sizes — split planning trusts them
  private val partSizes = scala.collection.mutable.Map[String, Long]()

  private def writeMeta(root: File, body: String, version: Int = 1): Unit = {
    val md = new File(root, "metadata"); md.mkdirs()
    java.nio.file.Files.writeString(new File(md, s"v$version.metadata.json").toPath, body)
    java.nio.file.Files.writeString(new File(md, "version-hint.text").toPath, version.toString)
  }

  test("v2 snapshot via manifest list; DELETED entries drop") {
    val root = tempDir("ice_v2")
    import spark.implicits._
    val f1 = writePart(root, "data/a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val f2 = writePart(root, "data/b.parquet", Seq((3L, "c")).toDF("id", "v"))
    val f3 = writePart(root, "data/c.parquet", Seq((4L, "d")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    // one manifest keeps f1 + f3, marks f2 DELETED (status=2)
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, f1), entry(2, f2), entry(0, f3, content = Some(0))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema, Seq(manifestListRow("metadata/m1.avro")))
    writeMeta(root, s"""{
      "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
      "current-schema-id": 0, "schemas": [$tableSchemaJson],
      "current-snapshot-id": 77,
      "snapshots": [{"snapshot-id": 77, "manifest-list": "metadata/ml.avro"}]}""")
    val df = Catalog.attach(spark, "ice_v2", "iceberg", Map("files" -> root.getPath))
    assert(df.schema("id").dataType === org.apache.spark.sql.types.LongType)
    // (nullability is asserted on toStruct directly — Spark file sources
    // relax any user schema to nullable on read)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
  }

  test("v1 snapshot with inline manifests and bare schema field") {
    val root = tempDir("ice_v1")
    import spark.implicits._
    val f1 = writePart(root, "data/only.parquet", Seq((9L, "z")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(entry(1, f1)))
    writeMeta(root, s"""{
      "format-version": 1, "table-uuid": "t", "location": "${root.getPath}",
      "schema": $tableSchemaJson,
      "current-snapshot-id": 5,
      "snapshots": [{"snapshot-id": 5, "manifests": ["metadata/m1.avro"]}]}""")
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "z")))
  }

  private def v2Meta(root: File, snapshotId: Long = 1, extra: String = "",
      schemaJson: String = tableSchemaJson): String = s"""{
      "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
      "current-schema-id": 0, "schemas": [$schemaJson],
      "current-snapshot-id": $snapshotId, $extra
      "snapshots": [{"snapshot-id": $snapshotId, "manifest-list": "metadata/ml.avro"}]}"""

  test("v2 positional deletes drop (path, pos) rows with sequence visibility") {
    val root = tempDir("ice_posdel")
    import spark.implicits._
    val fA = writePart(root, "data/a.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val fB = writePart(root, "data/b.parquet", Seq((4L, "d"), (5L, "e")).toDF("id", "v"))
    // positional delete file per the spec: (file_path, pos) columns. One
    // LIVE delete kills pos 1 of file A (id=2); one STALE delete (sequence
    // BELOW the data's) targets pos 0 of file B and must NOT apply.
    val live = writePart(root, "data/del_live.parquet",
      Seq((s"${root.getPath}/data/a.parquet", 1L)).toDF("file_path", "pos"))
    val stale = writePart(root, "data/del_stale.parquet",
      Seq((s"${root.getPath}/data/b.parquet", 0L)).toDF("file_path", "pos"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)), entry(1, fB, seq = Some(1L)),
      entry(1, live, content = Some(1), seq = Some(2L)),
      entry(1, stale, content = Some(1), seq = Some(0L))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("v2 equality deletes drop matching rows, strict-sequence, null-safe") {
    val root = tempDir("ice_eqdel")
    import spark.implicits._
    val fA = writePart(root, "data/a.parquet",
      Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, null.asInstanceOf[String])).toDF("id", "v"))
    // equality delete on field id 2 (column v): v='a' and v=null at seq 2
    // delete ids 1,3,4; a same-sequence delete (seq 1, NOT < data seq 1)
    // targeting 'b' must not apply
    val live = writePart(root, "data/eq_live.parquet",
      Seq("a", null.asInstanceOf[String]).toDF("v"))
    val same = writePart(root, "data/eq_same.parquet", Seq("b").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, live, content = Some(2), seq = Some(2L), eqIds = Seq(2)),
      entry(1, same, content = Some(2), seq = Some(1L), eqIds = Seq(2))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("nested-field equality deletes match struct subfields by id path") {
    val root = tempDir("ice_eqnested")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"info","required":false,"type":{"type":"struct","fields":[
          {"id":3,"name":"city","required":false,"type":"string"},
          {"id":4,"name":"zip","required":false,"type":"int"}]}}]}"""
    val data = Seq(
      (1L, Some(("paris", 75)), "keep? no — city matches"),
      (2L, Some(("lyon", 69)), "keep"),
      (3L, Some((null.asInstanceOf[String], 0)), "keep — city null vs 'paris'"),
      (4L, None, "keep — whole struct null")).map { case (id, info, _) =>
      (id, info.map { case (c, z) => (c, z) })
    }.toDF("id", "info")
      .select(col("id"), col("info").cast("struct<city:string,zip:int>"))
    val fA = writePart(root, "data/a.parquet", data)
    // delete file stores the spec's projected-table-schema layout: a
    // struct `info` holding ONLY `city` (equality id 3)
    val del = writePart(root, "data/eq_nested.parquet",
      Seq("paris").toDF("city").select(struct(col("city")).as("info")))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 4L))
  }

  test("LIST-typed equality deletes match whole array values (spec: 'values are equal')") {
    val root = tempDir("ice_eqlistcol")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"tags","required":false,"type":{"type":"list",
          "element-id":3,"element":"string","element-required":false}}]}"""
    val fA = writePart(root, "data/a.parquet", Seq(
      (1L, Seq("x", "y")), (2L, Seq("x")), (3L, Seq("y", "x")),
      (4L, Seq.empty[String])).toDF("id", "tags"))
    // the delete column is the LIST COLUMN itself (field id 2): a row dies
    // only when its whole array equals a delete row's array — order and
    // length sensitive, per the spec's "values are equal to all delete
    // columns". ["x","y"] kills id 1 but NOT id 3 (different order) or
    // id 2 (prefix).
    val del = writePart(root, "data/eq_list.parquet",
      Seq(Seq("x", "y"), Seq.empty[String]).toDF("tags"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(2))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("MAP-typed equality deletes match by key/value set, not entry order") {
    val root = tempDir("ice_eqmapcol")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"props","required":false,"type":{"type":"map",
          "key-id":3,"key":"string","value-id":4,"value":"string",
          "value-required":false}}]}"""
    val fA = writePart(root, "data/a.parquet",
      Seq(1L, 2L, 3L).toDF("id").select(col("id"),
        when(col("id") === 1L, map(lit("a"), lit("1"), lit("b"), lit("2")))
          .when(col("id") === 2L, map(lit("a"), lit("1")))
          .otherwise(map(lit("a"), lit("9"), lit("b"), lit("2"))).as("props")))
    // delete row's map is {b→2, a→1} — REVERSED insertion order vs id 1's
    // {a→1, b→2}. Canonicalized key/value-set equality kills id 1 only:
    // id 2 is a subset (missing b), id 3 differs in a value.
    val del = writePart(root, "data/eq_map.parquet", spark.range(1).select(
      map(lit("b"), lit("2"), lit("a"), lit("1")).as("props")))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(2))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
  }

  test("equality delete on an id inside a list element still rejects loudly") {
    val root = tempDir("ice_eqlist")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"tags","required":false,"type":{"type":"list",
          "element-id":3,"element":"string","element-required":false}}]}"""
    val fA = writePart(root, "data/a.parquet",
      Seq((1L, Seq("x"))).toDF("id", "tags"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("tag"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, schemaJson = schemaJson))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty).collect()
    }
    assert(e.getMessage.contains("field id 3"))
  }

  test("time columns read as exact micros and surface as TimestampNTZ on epoch date") {
    val root = tempDir("ice_time")
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    // hand-written INT64 TIME(MICROS) column — what an Iceberg writer emits
    val msg: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("id")
      .optional(PrimitiveTypeName.INT64)
      .as(LogicalTypeAnnotation.timeType(false, TimeUnit.MICROS)).named("t")
      .named("r")
    val dataDir = new File(root, "data"); dataDir.mkdirs()
    val pqPath = new org.apache.hadoop.fs.Path(
      new File(dataDir, "a.parquet").getPath)
    val w = ExampleParquetWriter.builder(pqPath).withType(msg).build()
    val gf = new SimpleGroupFactory(msg)
    val micros = (12L * 3600 + 34 * 60 + 56) * 1000000L + 123456L // 12:34:56.123456
    try {
      w.write(gf.newGroup().append("id", 1L).append("t", micros))
      w.write(gf.newGroup().append("id", 2L)) // null time
    } finally w.close()
    partSizes("data/a.parquet") = new File(dataDir, "a.parquet").length()
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"t","required":false,"type":"time"}]}"""
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, "data/a.parquet", seq = Some(1L))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(1L))))
    writeMeta(root, v2Meta(root, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.schema("t").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows(0).getAs[java.time.LocalDateTime]("t") ===
      java.time.LocalDateTime.of(1970, 1, 1, 12, 34, 56, 123456000))
    assert(rows(1).isNullAt(1))
  }

  test("partition-scoped equality deletes stay inside their partition") {
    val root = tempDir("ice_eqscope")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"p","required":false,"type":"int"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p","transform":"identity","source-id":2,"field-id":1000}]}],"""
    // same v in BOTH partitions; the delete is scoped to p=2 only
    val sch = schemasFor(Seq("p"))
    val fA = writePart(root, "data/p1.parquet", Seq((1L, 1, "x")).toDF("id", "p", "v"))
    val fB = writePart(root, "data/p2.parquet", Seq((2L, 2, "x")).toDF("id", "p", "v"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), partition = Map("p" -> 1), schemas = sch),
      entry(1, fB, seq = Some(1L), partition = Map("p" -> 2), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p" -> 2), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    // the p=1 row shares the deleted v but lives outside the delete's scope
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("a NULL partition-tuple slot scopes the delete to the NULL partition") {
    val root = tempDir("ice_eqnullscope")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"p","required":false,"type":"int"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p","transform":"identity","source-id":2,"field-id":1000}]}],"""
    val sch = schemasFor(Seq("p"))
    // v='x' in the NULL partition AND in p=5 — the delete's tuple slot is
    // NULL, so only the NULL-partition row may die. Treating the null slot
    // as "no constraint" (the old bug) would also kill id=2.
    val fN = writePart(root, "data/pnull.parquet",
      Seq((1L, null.asInstanceOf[java.lang.Integer], "x")).toDF("id", "p", "v"))
    val f5 = writePart(root, "data/p5.parquet",
      Seq((2L, 5: java.lang.Integer, "x")).toDF("id", "p", "v"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fN, seq = Some(1L), partition = Map("p" -> null), schemas = sch),
      entry(1, f5, seq = Some(1L), partition = Map("p" -> 5), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p" -> null), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("bucket transform matches the spec's Appendix B murmur3 vectors") {
    import graft.functions.IcebergTransforms._
    // published test vectors from the Iceberg spec (Appendix B): these pin
    // the hash independently of this repo's implementation
    assert(hashLong(34L) === 2017239379)                         // int + long 34
    assert(hashBytes("iceberg".getBytes("UTF-8")) === 1210000089) // string
    assert(hashLong(17486L) === -653330422)                      // date 2017-11-16
    assert(hashLong(1510871468000000L) === -2047944441)          // ts 2017-11-16T22:31:08
  }

  test("bucket-scoped equality deletes recompute the transform per data row") {
    import graft.functions.IcebergTransforms
    val root = tempDir("ice_eqbucket")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"p","required":false,"type":"int"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p_bucket","transform":"bucket[16]","source-id":2,"field-id":1000}]}],"""
    // Appendix B pins bucket16(34) = 2017239379 % 16 = 3 (vector-tested
    // above); pOther is any value landing in a DIFFERENT bucket
    val pOther = (35 to 99)
      .find(p => IcebergTransforms.bucketLong(p.toLong, 16) != 3).get
    val sch = schemasFor(Seq("p_bucket"))
    val fA = writePart(root, "data/b3.parquet",
      Seq((1L, 34, "x"), (3L, 34, "y")).toDF("id", "p", "v"))
    val fB = writePart(root, "data/bx.parquet",
      Seq((2L, pOther, "x")).toDF("id", "p", "v"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), partition = Map("p_bucket" -> 3), schemas = sch),
      entry(1, fB, seq = Some(1L),
        partition = Map("p_bucket" -> IcebergTransforms.bucketLong(pOther.toLong, 16)),
        schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p_bucket" -> 3), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    // id=1 (v='x', bucket 3) dies; id=2 ('x' but a different bucket) and
    // id=3 ('y') survive
    assert(df.orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
  }

  test("truncate-scoped equality deletes apply closed-form") {
    val root = tempDir("ice_eqtrunc")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"p","required":false,"type":"int"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p_trunc","transform":"truncate[10]","source-id":2,"field-id":1000}]}],"""
    val sch = schemasFor(Seq("p_trunc"))
    // truncate[10]: 34 → 30, 47 → 40. Delete 'x' scoped to the 30-bucket.
    val fA = writePart(root, "data/t30.parquet", Seq((1L, 34, "x")).toDF("id", "p", "v"))
    val fB = writePart(root, "data/t40.parquet", Seq((2L, 47, "x")).toDF("id", "p", "v"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), partition = Map("p_trunc" -> 30), schemas = sch),
      entry(1, fB, seq = Some(1L), partition = Map("p_trunc" -> 40), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p_trunc" -> 30), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    assert(IcebergNative.read(spark, root.getPath, Map.empty)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("days-scoped equality deletes recompute the day ordinal per row") {
    val root = tempDir("ice_eqdays")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"ts","required":false,"type":"timestamptz"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p_day","transform":"days","source-id":2,"field-id":1000}]}],"""
    val sch = schemasFor(Seq("p_day"))
    // day ordinal 18000 = 2019-04-14 (UTC session); mid-day timestamps must
    // still land in their day's partition
    val fA = writePart(root, "data/d0.parquet",
      Seq((1L, "2019-04-14 12:30:00", "x")).toDF("id", "s", "v")
        .select(col("id"), col("s").cast("timestamp").as("ts"), col("v")))
    val fB = writePart(root, "data/d1.parquet",
      Seq((2L, "2019-04-15 01:00:00", "x")).toDF("id", "s", "v")
        .select(col("id"), col("s").cast("timestamp").as("ts"), col("v")))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), partition = Map("p_day" -> 18000), schemas = sch),
      entry(1, fB, seq = Some(1L), partition = Map("p_day" -> 18001), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p_day" -> 18000), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    assert(IcebergNative.read(spark, root.getPath, Map.empty)
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("month-scoped equality deletes stay UTC under a non-UTC session TZ") {
    // Iceberg defines timestamp transforms in UTC; an instant just past a
    // month boundary in UTC sits in the PREVIOUS month in a western session
    // timezone, so a TZ-naive month() scope would skip the delete
    val root = tempDir("ice_eqmonth_tz")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"ts","required":false,"type":"timestamptz"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p_month","transform":"month","source-id":2,"field-id":1000}]}],"""
    val sch = schemasFor(Seq("p_month"))
    // written under the default UTC session: 2019-05-01 00:30 UTC is month
    // ordinal (2019-1970)*12 + 4 = 592; in America/Los_Angeles it reads as
    // 2019-04-30 17:30 (ordinal 591)
    val fA = writePart(root, "data/m0.parquet",
      Seq((1L, "2019-05-01 00:30:00", "x")).toDF("id", "s", "v")
        .select(col("id"), col("s").cast("timestamp").as("ts"), col("v")))
    val fB = writePart(root, "data/m1.parquet",
      Seq((2L, "2019-04-15 12:00:00", "x")).toDF("id", "s", "v")
        .select(col("id"), col("s").cast("timestamp").as("ts"), col("v")))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), partition = Map("p_month" -> 592), schemas = sch),
      entry(1, fB, seq = Some(1L), partition = Map("p_month" -> 591), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p_month" -> 592), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      assert(IcebergNative.read(spark, root.getPath, Map.empty)
        .collect().map(_.getLong(0)).toSeq === Seq(2L))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("unknown partition transforms on equality deletes still reject loudly") {
    val root = tempDir("ice_equnknown")
    import spark.implicits._
    val schemaJson =
      """{"type":"struct","schema-id":0,"fields":[
        {"id":1,"name":"id","required":true,"type":"long"},
        {"id":2,"name":"p","required":false,"type":"int"},
        {"id":3,"name":"v","required":false,"type":"string"}]}"""
    val specsJson =
      """"partition-specs": [{"spec-id":0,"fields":[
        {"name":"p_z","transform":"zorder[2]","source-id":2,"field-id":1000}]}],"""
    val sch = schemasFor(Seq("p_z"))
    val fA = writePart(root, "data/a.parquet", Seq((1L, 1, "x")).toDF("id", "p", "v"))
    val del = writePart(root, "data/eq.parquet", Seq("x").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), sch._2, Seq(
      entry(1, fA, seq = Some(1L), schemas = sch),
      entry(1, del, content = Some(2), seq = Some(2L), eqIds = Seq(3),
        partition = Map("p_z" -> 1), schemas = sch)))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root, extra = specsJson, schemaJson = schemaJson))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("zorder"))
  }

  test("entry sequence numbers inherit from the manifest-list row when null") {
    val root = tempDir("ice_seqinherit")
    import spark.implicits._
    val fA = writePart(root, "data/a.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val del = writePart(root, "data/del.parquet",
      Seq((s"${root.getPath}/data/a.parquet", 0L)).toDF("file_path", "pos"))
    val md = new File(root, "metadata"); md.mkdirs()
    // data manifest at seq 1, delete manifest at seq 2 — entries carry NO
    // explicit sequence, so visibility must come from inheritance
    writeAvro(new File(md, "m_data.avro"), entrySchema, Seq(entry(1, fA)))
    writeAvro(new File(md, "m_del.avro"), entrySchema,
      Seq(entry(1, del, content = Some(1))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema, Seq(
      manifestListRow("metadata/m_data.avro", seq = Some(1L)),
      manifestListRow("metadata/m_del.avro", content = Some(1), seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("add-column schema evolution: pre-evolution files read the new column as NULL") {
    val root = tempDir("ice_addcol")
    import spark.implicits._
    // both files id-less (consistent, so name resolution applies); the
    // older one predates the column add — the evolved schema must serve
    // its missing `w` as NULL, and predicates on `w` must still plan
    val fOld = writePart(root, "data/old.parquet", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fNew = writePart(root, "data/new.parquet", Seq((3L, "c", 30.5)).toDF("id", "v", "w"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fOld, seq = Some(1L)), entry(1, fNew, seq = Some(2L))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    val evolved = """{"type": "struct", "schema-id": 0, "fields": [
      {"id": 1, "name": "id", "required": false, "type": "long"},
      {"id": 2, "name": "v", "required": false, "type": "string"},
      {"id": 3, "name": "w", "required": false, "type": "double"}]}"""
    writeMeta(root, v2Meta(root, schemaJson = evolved))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.columns.toSeq === Seq("id", "v", "w"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.take(2).forall(_.isNullAt(2)))
    assert(rows(2).getDouble(2) == 30.5)
    assert(df.filter($"w" > 10.0).count() === 1L)
  }

  test("renamed columns resolve by parquet field id, not name") {
    val root = tempDir("ice_rename")
    import org.apache.spark.sql.types._
    // the data file predates a rename: parquet columns old_id/old_v carry
    // field ids 1/2 (spark writes ids when the schema metadata has them);
    // current table schema names them id/v — the spec resolves by ID, a
    // name-based read would return all nulls
    val writeSchema = StructType(Seq(
      StructField("old_id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("old_v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val rows = spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(7L, "seven"), org.apache.spark.sql.Row(8L, "eight")), 1)
    val f1 = writePart(root, "data/renamed.parquet",
      spark.createDataFrame(rows, writeSchema))
    // an equality delete file ALSO written pre-rename: old column name
    // old_v under field id 2, deleting 'seven' — id resolution must reach
    // delete files too
    val delSchema = StructType(Seq(
      StructField("old_v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val delRows = spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("seven")), 1)
    val fDel = writePart(root, "data/eq_renamed.parquet",
      spark.createDataFrame(delRows, delSchema))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, f1, seq = Some(1L)),
      entry(1, fDel, content = Some(2), seq = Some(2L), eqIds = Seq(2))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val df = IcebergNative.read(spark, root.getPath, Map.empty)
    assert(df.columns.toSeq === Seq("id", "v"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((8L, "eight")))
  }

  test("INTERLEAVED mixed field-id presence rejects (head+last agree)") {
    val root = tempDir("ice_mixedid")
    import org.apache.spark.sql.types._
    def idSchema(n1: String, n2: String) = StructType(Seq(
      StructField(n1, LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField(n2, StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    def rowsDf(schema: StructType, id: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(id, s"r$id")), 1), schema)
    import spark.implicits._
    // files 1,2,4,5 carry ids; file 3 (an import) does not — the old
    // head+last probe saw agreement and silently resolved file 3 by id
    // (nulls); the evenly-spaced sample must reject
    val withIds = idSchema("id", "v")
    val f1 = writePart(root, "data/f1.parquet", rowsDf(withIds, 1L))
    val f2 = writePart(root, "data/f2.parquet", rowsDf(withIds, 2L))
    val f3 = writePart(root, "data/f3.parquet", Seq((3L, "r3")).toDF("id", "v"))
    val f4 = writePart(root, "data/f4.parquet", rowsDf(withIds, 4L))
    val f5 = writePart(root, "data/f5.parquet", rowsDf(withIds, 5L))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema,
      Seq(f1, f2, f3, f4, f5).map(f => entry(1, f, seq = Some(1L))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(1L))))
    writeMeta(root, v2Meta(root))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("mix parquet field-id presence"))
  }

  test("mixed field-id presence WITHIN an equality-delete group rejects") {
    val root = tempDir("ice_mixedid_del")
    import org.apache.spark.sql.types._
    import spark.implicits._
    // data files all carry ids → id resolution engages table-wide
    val dataSchema = StructType(Seq(
      StructField("id", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1).build()),
      StructField("v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    def rowsDf(id: Long) = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(id, s"r$id")), 1), dataSchema)
    val f1 = writePart(root, "data/f1.parquet", rowsDf(1L))
    val f2 = writePart(root, "data/f2.parquet", rowsDf(2L))
    // the delete group mixes an id-carrying file with an id-less import —
    // a head-only probe would trust file #1 and resolve the id-less one to
    // silent nulls; the sampled group probe must reject
    val delIdSchema = StructType(Seq(
      StructField("v", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2).build())))
    val d1 = writePart(root, "data/d1.parquet", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("r1")), 1), delIdSchema))
    val d2 = writePart(root, "data/d2.parquet", Seq("r2").toDF("v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, f1, seq = Some(1L)), entry(1, f2, seq = Some(1L)),
      entry(1, d1, content = Some(2), seq = Some(2L), eqIds = Seq(2)),
      entry(1, d2, content = Some(2), seq = Some(2L), eqIds = Seq(2))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty).collect()
    }
    assert(e.getMessage.contains("equality-delete files mix parquet field-id presence"))
  }

  /** Write a REAL puffin file: PFA1 head, one deletion-vector-v1 blob
    * (4-byte BE length, Delta-compatible magic+bitmap payload, 4-byte BE
    * CRC-32), and a structurally complete footer (payload JSON, its LE
    * size, flags, closing magic). Returns (blob offset, blob size). */
  private def writePuffinDv(f: File, positions: Seq[Long]): (Long, Long) = {
    import graft.sources.DeletionVectors
    val payload = DeletionVectors.RoaringBitmapArray.serialize(positions)
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(f))
    out.write("PFA1".getBytes("UTF-8"))
    val blobOffset = 4L
    out.writeInt(payload.length)
    out.write(payload)
    val crc = new java.util.zip.CRC32(); crc.update(payload)
    out.writeInt(crc.getValue.toInt)
    val blobSize = 4L + payload.length + 4L
    val footerJson =
      s"""{"blobs":[{"type":"deletion-vector-v1","fields":[],"offset":$blobOffset,"length":$blobSize}]}"""
        .getBytes("UTF-8")
    out.write("PFA1".getBytes("UTF-8"))
    out.write(footerJson)
    // footer payload size, 4-byte LITTLE-endian, then flags, then magic
    val n = footerJson.length
    out.write(Array[Byte]((n & 0xff).toByte, ((n >> 8) & 0xff).toByte,
      ((n >> 16) & 0xff).toByte, ((n >> 24) & 0xff).toByte))
    out.write(Array[Byte](0, 0, 0, 0))
    out.write("PFA1".getBytes("UTF-8"))
    out.close()
    (blobOffset, blobSize)
  }

  test("v3 puffin deletion vectors apply to their referenced data file") {
    val root = tempDir("ice_puffin_dv")
    import spark.implicits._
    // two sorted data files; the DV kills positions 0 and 2 of file A ONLY
    // — file B shares the same row shapes and must be untouched
    val fA = writePart(root, "data/a.parquet",
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "v")
        .coalesce(1).sortWithinPartitions("id"))
    val fB = writePart(root, "data/b.parquet",
      Seq((4L, "x"), (5L, "y")).toDF("id", "v")
        .coalesce(1).sortWithinPartitions("id"))
    val puffin = new File(root, "data/deletes.puffin")
    val (off, sz) = writePuffinDv(puffin, Seq(0L, 2L))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, fB, seq = Some(1L)),
      entry(1, "data/deletes.puffin", content = Some(1), seq = Some(2L),
        format = "PUFFIN", dvLocator = Some((fA, off, sz)))))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val got = IcebergNative.read(spark, root.getPath, Map.empty)
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(got === Seq(2L, 4L, 5L))
  }

  test("puffin DV entries without blob locator fields reject loudly") {
    val root = tempDir("ice_puffin_bad")
    import spark.implicits._
    val fA = writePart(root, "data/a.parquet", Seq((1L, "a")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(
      entry(1, fA, seq = Some(1L)),
      entry(1, "data/dv.puffin", content = Some(1), seq = Some(2L), format = "PUFFIN")))
    writeAvro(new File(md, "ml.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(2L))))
    writeMeta(root, v2Meta(root))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("content_offset"))
  }

  test("schema conversion covers primitives, struct, list, map, decimal") {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      """{"type":"struct","fields":[
        {"id":1,"name":"b","required":true,"type":"boolean"},
        {"id":2,"name":"d","required":false,"type":"decimal(9, 2)"},
        {"id":3,"name":"ts","required":false,"type":"timestamptz"},
        {"id":4,"name":"arr","required":false,"type":
          {"type":"list","element-id":5,"element":"string","element-required":false}},
        {"id":6,"name":"m","required":false,"type":
          {"type":"map","key-id":7,"key":"string","value-id":8,"value":"double","value-required":false}},
        {"id":9,"name":"s","required":false,"type":
          {"type":"struct","fields":[{"id":10,"name":"x","required":true,"type":"int"}]}}]}""")
    val st = IcebergNative.toStruct(node)
    import org.apache.spark.sql.types._
    assert(st("b").dataType === BooleanType && !st("b").nullable)
    assert(st("d").dataType === DecimalType(9, 2))
    assert(st("ts").dataType === TimestampType)
    assert(st("arr").dataType === ArrayType(StringType, containsNull = true))
    assert(st("m").dataType === MapType(StringType, DoubleType, valueContainsNull = true))
    assert(st("s").dataType.asInstanceOf[StructType]("x").dataType === IntegerType)
  }

  test("snapshot_id time travel pins an older snapshot; unknown ids reject") {
    val root = tempDir("ice_timetravel")
    import spark.implicits._
    val f1 = writePart(root, "data/s1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "data/s2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(entry(1, f1)))
    writeAvro(new File(md, "m2.avro"), entrySchema, Seq(entry(1, f1), entry(1, f2)))
    writeAvro(new File(md, "ml1.avro"), manifestListSchema, Seq(manifestListRow("metadata/m1.avro")))
    writeAvro(new File(md, "ml2.avro"), manifestListSchema, Seq(manifestListRow("metadata/m2.avro")))
    writeMeta(root, s"""{
      "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
      "current-schema-id": 0, "schemas": [$tableSchemaJson],
      "current-snapshot-id": 20,
      "snapshots": [{"snapshot-id": 10, "manifest-list": "metadata/ml1.avro"},
                    {"snapshot-id": 20, "manifest-list": "metadata/ml2.avro"}]}""")
    assert(IcebergNative.read(spark, root.getPath, Map.empty).count() === 2)
    assert(IcebergNative.read(spark, root.getPath, Map("snapshot_id" -> "10"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map("snapshot_id" -> "99"))
    }
    assert(e.getMessage.contains("99") && e.getMessage.contains("known"))
  }

  test("iceberg_snapshots introspection: one row per snapshot, current flagged") {
    val root = tempDir("ice_snapshots")
    import spark.implicits._
    val f1 = writePart(root, "data/s1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "data/s2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(entry(1, f1)))
    writeAvro(new File(md, "m2.avro"), entrySchema, Seq(entry(1, f1), entry(1, f2)))
    writeAvro(new File(md, "ml1.avro"), manifestListSchema, Seq(manifestListRow("metadata/m1.avro")))
    writeAvro(new File(md, "ml2.avro"), manifestListSchema, Seq(manifestListRow("metadata/m2.avro")))
    writeMeta(root, s"""{
      "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
      "current-schema-id": 0, "schemas": [$tableSchemaJson],
      "current-snapshot-id": 20,
      "snapshots": [{"snapshot-id": 10, "sequence-number": 1, "timestamp-ms": 1000000,
                     "summary": {"operation": "append"},
                     "manifest-list": "metadata/ml1.avro"},
                    {"snapshot-id": 20, "parent-snapshot-id": 10, "sequence-number": 2,
                     "timestamp-ms": 2000000, "summary": {"operation": "overwrite"},
                     "manifest-list": "metadata/ml2.avro"}]}""")
    val sn = IcebergNative.snapshots(spark, root.getPath).orderBy("snapshot_id").collect()
    assert(sn.length === 2)
    assert(sn(0).getLong(0) === 10L && sn(0).isNullAt(1) &&
      sn(0).getString(4) === "append" && !sn(0).getBoolean(6))
    assert(sn(1).getLong(0) === 20L && sn(1).getLong(1) === 10L &&
      sn(1).getTimestamp(3).getTime === 2000000L &&
      sn(1).getString(4) === "overwrite" && sn(1).getBoolean(6))
    // SQL-callable through executePg's table-function swap
    val viaSql = graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT snapshot_id, is_current FROM iceberg_snapshots('${root.getPath}') " +
        "WHERE is_current").collect()
    assert(viaSql.map(_.getLong(0)).toSeq === Seq(20L))
  }

  test("as_of_timestamp resolves via snapshot-log; out-of-range rejects with window") {
    val root = tempDir("ice_ts_travel")
    import spark.implicits._
    val f1 = writePart(root, "data/t1.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "data/t2.parquet", Seq((2L, "b")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(entry(1, f1)))
    writeAvro(new File(md, "m2.avro"), entrySchema, Seq(entry(1, f1), entry(1, f2)))
    writeAvro(new File(md, "ml1.avro"), manifestListSchema, Seq(manifestListRow("metadata/m1.avro")))
    writeAvro(new File(md, "ml2.avro"), manifestListSchema, Seq(manifestListRow("metadata/m2.avro")))
    // snapshot-log: snap 10 at t=1_000_000, snap 20 at t=2_000_000
    writeMeta(root, s"""{
      "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
      "current-schema-id": 0, "schemas": [$tableSchemaJson],
      "current-snapshot-id": 20,
      "snapshot-log": [{"timestamp-ms": 1000000, "snapshot-id": 10},
                       {"timestamp-ms": 2000000, "snapshot-id": 20}],
      "snapshots": [{"snapshot-id": 10, "manifest-list": "metadata/ml1.avro"},
                    {"snapshot-id": 20, "manifest-list": "metadata/ml2.avro"}]}""")
    def ids(opts: Map[String, String]): Seq[Long] =
      IcebergNative.read(spark, root.getPath, opts)
        .orderBy("id").collect().map(_.getLong(0)).toSeq
    // between the two snapshots → the older one
    assert(ids(Map("as_of_timestamp" -> "1500000")) === Seq(1L))
    // exactly at / after the newer one → the newer one
    assert(ids(Map("as_of_timestamp" -> "2000000")) === Seq(1L, 2L))
    assert(ids(Map("as_of_timestamp" -> "9999999")) === Seq(1L, 2L))
    // ISO instant form parses (1.5M ms = 1970-01-01T00:25:00Z)
    assert(ids(Map("as_of_timestamp" -> "1970-01-01T00:25:00Z")) === Seq(1L))
    // before all history → loud, names the valid window
    val e = intercept[IcebergNative.IcebergReadException] {
      ids(Map("as_of_timestamp" -> "999999"))
    }
    assert(e.getMessage.contains("predates") && e.getMessage.contains("1970-01-01T00:16:40Z"))
    // mutually exclusive with snapshot_id
    val e2 = intercept[IcebergNative.IcebergReadException] {
      ids(Map("as_of_timestamp" -> "1500000", "snapshot_id" -> "10"))
    }
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("changes_since_snapshot diffs live data-file sets between snapshots") {
    val root = tempDir("ice_changes")
    import spark.implicits._
    val f1 = writePart(root, "data/a.parquet", Seq((1L, "a")).toDF("id", "v"))
    val f2 = writePart(root, "data/b.parquet", Seq((2L, "b")).toDF("id", "v"))
    val f3 = writePart(root, "data/c.parquet", Seq((3L, "c")).toDF("id", "v"))
    val md = new File(root, "metadata"); md.mkdirs()
    // snapshot 1: {a, b}; snapshot 2: {a, c} (b replaced by c)
    writeAvro(new File(md, "m1.avro"), entrySchema, Seq(entry(1, f1), entry(1, f2)))
    writeAvro(new File(md, "ml1.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m1.avro", seq = Some(1L))))
    writeAvro(new File(md, "m2.avro"), entrySchema, Seq(entry(0, f1), entry(1, f3)))
    writeAvro(new File(md, "ml2.avro"), manifestListSchema,
      Seq(manifestListRow("metadata/m2.avro", seq = Some(2L))))
    java.nio.file.Files.writeString(new File(md, "v1.metadata.json").toPath,
      s"""{
        "format-version": 2, "table-uuid": "t", "location": "${root.getPath}",
        "current-schema-id": 0, "schemas": [$tableSchemaJson],
        "current-snapshot-id": 2,
        "snapshots": [{"snapshot-id": 1, "manifest-list": "metadata/ml1.avro"},
                      {"snapshot-id": 2, "manifest-list": "metadata/ml2.avro"}]}""")
    java.nio.file.Files.writeString(new File(md, "version-hint.text").toPath, "1")
    val diff = IcebergNative.read(spark, root.getPath,
      Map("changes_since_snapshot" -> "1"))
    assert(diff.collect().map(_.getLong(0)).toSeq === Seq(3L))
    // diff against the current snapshot itself: nothing new
    assert(IcebergNative.read(spark, root.getPath,
      Map("changes_since_snapshot" -> "2")).count() === 0L)
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath,
        Map("changes_since_snapshot" -> "99")).collect()
    }
    assert(e.getMessage.contains("known: 1, 2"))
  }

  test("non-iceberg directory and missing metadata error clearly") {
    val root = tempDir("ice_none")
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root.getPath, Map.empty)
    }
    assert(e.getMessage.contains("metadata"))
  }

  test("the one resolver: advisory hint, numeric fallback, unpadded names, no metadata") {
    import graft.sources.IcebergLog
    val root = tempDir("ice_resolve")
    val md = new File(root, "metadata"); md.mkdirs()
    def put(name: String, text: String): Unit =
      java.nio.file.Files.writeString(new File(md, name).toPath, text)
    def hint(text: Option[String]): Unit = text match {
      case Some(t) => put("version-hint.text", t)
      case None => new File(md, "version-hint.text").delete()
    }
    def resolved: (Long, Int) = {
      val snap = IcebergLog.snapshot(spark, root.getPath)
      (snap.version, snap.meta.path("marker").asInt(-1))
    }
    Seq(1, 2, 9, 10).foreach(v => put(s"v$v.metadata.json", s"""{"marker": $v}"""))
    hint(Some("2"))
    assert(resolved === ((2L, 2)))                      // a readable hint wins
    // every unusable hint falls back to the numerically highest file
    // (lexicographic order would pick v9 over v10)
    for (h <- Seq(Some(""), Some("  \n"), Some("v2"), Some("abc"), Some("7"), None)) {
      hint(h)
      assert(resolved === ((10L, 10)), s"hint $h")
    }
    // an unpadded `N.metadata.json`, by hint and by listing
    put("11.metadata.json", """{"marker": 11}""")
    hint(Some("11"))
    assert(resolved === ((11L, 11)))
    hint(None)
    assert(resolved === ((11L, 11)))
    // an existing directory without metadata files is no table either
    val empty = tempDir("ice_resolve_empty")
    new File(empty, "metadata").mkdirs()
    assert(!IcebergLog.snapshot(spark, empty.getPath).exists)
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, empty.getPath, Map.empty)
    }.getMessage.contains("no *.metadata.json"))
    // no metadata directory at all: loud, and named
    val bare = tempDir("ice_resolve_bare")
    val snap = IcebergLog.snapshot(spark, bare.getPath)
    assert(!snap.exists && !snap.metaDirExists)
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, bare.getPath, Map.empty)
    }.getMessage.contains("is not an Iceberg table: no metadata directory"))
  }
}
