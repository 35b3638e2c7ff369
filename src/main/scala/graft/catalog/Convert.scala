package graft.catalog

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** In-place Delta→Iceberg METADATA conversion (the "UniForm" idea): write
  * Iceberg `metadata/` next to an existing `_delta_log/`, referencing the
  * SAME parquet data files — zero data movement, O(live files) driver
  * work. Afterwards the one table root attaches as EITHER format; re-run
  * after further Delta commits and a new Iceberg snapshot re-syncs the
  * live-file set (idempotent per Delta version via a snapshot-summary
  * marker). At 100 TB this is the difference between an engine-migration
  * rewrite of the whole corpus and a driver-side metadata emit.
  *
  * Reference surface: the reference reads Delta and Iceberg through
  * separate DuckDB extensions with no conversion path
  * (/root/reference/src/duckdb/delta.rs, iceberg.rs) — this exceeds it.
  *
  * Correctness gates (reject loudly, never misconvert):
  *   - deletion vectors: their dead rows are invisible to an Iceberg
  *     reader (compact first / delete-free tables only);
  *   - column mapping: parquet physical names differ from logical ones,
  *     and id-less files can only resolve by name;
  *   - partition columns must be identity-servable types (int/long/
  *     string/boolean/date) — hive-layout Delta files do NOT contain the
  *     partition columns, so the Iceberg side serves them from the
  *     manifest partition tuple (the spec's identity-transform rule,
  *     which IcebergNative implements for migrated tables);
  *   - an existing `metadata/` not produced by this converter.
  *
  * Each manifest entry carries record_count + Appendix-D bounds read from
  * the data file footers (one driver footer read per live file — the same
  * O(files) cost the original write paid), so plan-time skipping AND
  * metadata-only aggregates work on the converted table immediately. */
object Convert {
  import graft.sources.{DeltaLog, IcebergLog}
  import graft.sources.IcebergNative.IcebergReadException

  private val mapper = new ObjectMapper()

  /** Marker key in the Iceberg snapshot summary recording which Delta
    * version a conversion snapshot mirrors. */
  private[graft] val DeltaVersionKey = "graft-converted-delta-version"

  /** Convert (or re-sync) the Delta table at `path` to Iceberg metadata in
    * the same root. Returns the number of live data files referenced by
    * the new snapshot; -1 if the current Delta version is already
    * converted (no-op). */
  def deltaToIceberg(spark: SparkSession, path: String): Long = {
    val rootPath = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = rootPath.getFileSystem(conf)

    val st = DeltaLog.snapshot(spark, path)
    DeltaSink.requireNoDv(st, rootPath, "convert_to_iceberg")
    if (!st.exists) throw IcebergReadException(
      s"convert_to_iceberg: `$path` has no _delta_log — not a Delta table")
    val schemaJson = st.schemaJson.getOrElse(throw IcebergReadException(
      s"convert_to_iceberg: `$path` log declares no schema"))
    val mapping = st.columnMappingMode
    if (mapping != "none") throw IcebergReadException(
      s"convert_to_iceberg: `$path` uses columnMapping mode=$mapping — parquet " +
        "physical names differ from logical names, which an id-less Iceberg " +
        "read cannot resolve; only mode=none tables convert")
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    schema.fields.foreach { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => throw IcebergReadException(
          s"convert_to_iceberg: column `${f.name}` is nested — out of this " +
            "converter's scope (same flat-schema gate as the native writer)")
        case _ => ()
      }
    }
    st.partCols.foreach { c =>
      schema.find(_.name == c).map(_.dataType) match {
        case Some(IntegerType | LongType | StringType | BooleanType | DateType |
                  ShortType | ByteType) => ()
        case Some(other) => throw IcebergReadException(
          s"convert_to_iceberg: partition column `$c` has type ${other.simpleString} — " +
            "identity partition tuples of int/long/string/boolean/date only")
        case None => throw IcebergReadException(
          s"convert_to_iceberg: partition column `$c` is not in the schema")
      }
    }

    // ---- existing iceberg metadata: only our own conversions may re-sync ----
    val base = IcebergLog.snapshot(spark, path)
    if (base.exists) {
      val converted = base.snapshots.flatMap(s0 =>
        Option(s0.path("summary").path(DeltaVersionKey)).filter(!_.isMissingNode)
          .map(_.asText("-1").toLong))
      if (converted.isEmpty) throw IcebergReadException(
        s"convert_to_iceberg: `$path` already has Iceberg metadata (v${base.version}) that " +
          "this converter did not produce — refusing to overwrite a live table's " +
          "metadata; remove metadata/ or convert into a fresh root")
      if (converted.max >= st.version) return -1L // this Delta version is synced
    }
    val lastSnapshotId = base.lastSnapshotId

    val fieldIds: Seq[(StructField, Int)] =
      schema.fields.toSeq.zipWithIndex.map { case (f, i) => (f, i + 1) }
    val idOf: Map[String, Int] = fieldIds.map { case (f, id) => f.name -> id }.toMap

    // ---- one manifest entry per live Delta file, stats from the footer ----
    def decodePath(p: String): String = {
      // Delta add.path is percent-encoded (the protocol's RFC 2396 note)
      try java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")
      catch { case _: Exception => p }
    }
    final case class Entry(rel: String, size: Long, records: Long,
        tuple: Seq[Any],
        lower: java.util.Map[String, java.nio.ByteBuffer],
        upper: java.util.Map[String, java.nio.ByteBuffer],
        nulls: java.util.Map[String, java.lang.Long])
    def typedTuple(pv: Map[String, String]): Seq[Any] = st.partCols.map { c =>
      pv.get(c).flatMap(Option(_)) match {
        case None => null
        case Some(raw) => schema(c).dataType match {
          case IntegerType | ShortType | ByteType => Int.box(raw.toInt)
          case LongType => Long.box(raw.toLong)
          case BooleanType => Boolean.box(raw.toBoolean)
          case DateType => Int.box(java.time.LocalDate.parse(raw).toEpochDay.toInt)
          case _ => raw
        }
      }
    }
    val entries: Seq[Entry] = st.live.toSeq.map { case (rawPath, e) =>
      val rel = decodePath(rawPath)
      val abs = {
        val p = new Path(rel)
        if (p.isAbsolute) p else new Path(rootPath, p)
      }
      val (records, lb, ub, nvc) = IcebergSink.footerInfo(abs, conf, fieldIds)
      val size = if (e.size >= 12) e.size else fs.getFileStatus(abs).getLen
      Entry(rel, size, records, typedTuple(e.partitionValues), lb, ub, nvc)
    }

    // ---- manifest avro schema (dynamic r102 partition record) ----
    def avroTypeFor(dt: DataType): String = dt match {
      case IntegerType | ShortType | ByteType | DateType => "\"int\""
      case LongType => "\"long\""
      case BooleanType => "\"boolean\""
      case _ => "\"string\""
    }
    val partFieldsJson = st.partCols.map { c =>
      s"""{"name":${mapper.writeValueAsString(c)},"type":["null",${
        avroTypeFor(schema(c).dataType)}],"default":null}"""
    }.mkString(",")
    val partRecJson =
      if (st.partCols.isEmpty) ""
      else s"""{"name":"partition","type":["null",{"type":"record","name":"r102","fields":[$partFieldsJson]}],"default":null},"""
    val dfSch = new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"r2","fields":[
        {"name":"content","type":["null","int"],"default":null},
        {"name":"file_path","type":"string"},
        {"name":"file_format","type":"string"},
        $partRecJson
        {"name":"record_count","type":"long"},
        {"name":"file_size_in_bytes","type":["null","long"],"default":null},
        {"name":"lower_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
        {"name":"upper_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
        {"name":"null_value_counts","type":["null",{"type":"map","values":"long"}],"default":null}]}""")
    val eSch = new org.apache.avro.Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        {"name":"status","type":"int"},
        {"name":"sequence_number","type":["null","long"],"default":null},
        {"name":"data_file","type":${dfSch.toString}}]}""")
    val listSch = new org.apache.avro.Schema.Parser().parse(
      """{"type":"record","name":"manifest_file","fields":[
        {"name":"manifest_path","type":"string"},
        {"name":"content","type":["null","int"],"default":null},
        {"name":"sequence_number","type":["null","long"],"default":null}]}""")
    val partRecordSchema: Option[org.apache.avro.Schema] =
      if (st.partCols.isEmpty) None
      else Some(dfSch.getField("partition").schema().getTypes.get(1))

    // ---- write manifest + manifest list + metadata.json + hint ----
    val snapshotId = lastSnapshotId + 1
    val seq = base.lastSeq + 1
    val nowMs = System.currentTimeMillis()
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    fs.mkdirs(base.metaDir)
    def writeAvro(rel: String, sch: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val out = fs.create(new Path(rootPath, rel), false)
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, out)
      try rows.foreach(w.append) finally w.close()
    }
    val manifestRel = s"metadata/m-$snapshotId-$stamp.avro"
    writeAvro(manifestRel, eSch, entries.map { f =>
      val d = new GenericData.Record(dfSch)
      d.put("content", null)
      d.put("file_path", f.rel)
      d.put("file_format", "PARQUET")
      partRecordSchema.foreach { prs =>
        val pr = new GenericData.Record(prs)
        st.partCols.zip(f.tuple).foreach { case (c, v) => pr.put(c, v) }
        d.put("partition", pr)
      }
      d.put("record_count", f.records)
      d.put("file_size_in_bytes", Long.box(f.size))
      if (!f.lower.isEmpty) d.put("lower_bounds", f.lower)
      if (!f.upper.isEmpty) d.put("upper_bounds", f.upper)
      if (!f.nulls.isEmpty) d.put("null_value_counts", f.nulls)
      val e = new GenericData.Record(eSch)
      e.put("status", 1) // ADDED
      e.put("sequence_number", Long.box(seq))
      e.put("data_file", d)
      e
    })
    // a re-sync snapshot REPLACES the file set: only the new manifest rides
    val mlRel = s"metadata/ml-$snapshotId-$stamp.avro"
    writeAvro(mlRel, listSch, {
      val r = new GenericData.Record(listSch)
      r.put("manifest_path", manifestRel)
      r.put("content", null)
      r.put("sequence_number", Long.box(seq))
      Seq(r)
    })
    val schemaJsonIce: String = {
      val sch = mapper.createObjectNode()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val arr = sch.putArray("fields")
      fieldIds.foreach { case (f, id) =>
        val fn = arr.addObject()
        fn.put("id", id); fn.put("name", f.name)
        fn.put("required", !f.nullable); fn.put("type", IcebergSink.iceType(f.dataType, "convert_to_iceberg"))
      }
      mapper.writeValueAsString(sch)
    }
    val snapshotJson = {
      val sn = mapper.createObjectNode()
      sn.put("snapshot-id", snapshotId)
      if (lastSnapshotId > 0) sn.put("parent-snapshot-id", lastSnapshotId)
      sn.put("sequence-number", seq)
      sn.put("timestamp-ms", nowMs)
      val summary = sn.putObject("summary")
      summary.put("operation", if (base.exists) "overwrite" else "append")
      summary.put(DeltaVersionKey, st.version.toString)
      sn.put("manifest-list", mlRel)
      mapper.writeValueAsString(sn)
    }
    val logJson = (base.snapshotLog :+ ((nowMs, snapshotId))).map { case (ts, id) =>
      s"""{"timestamp-ms": $ts, "snapshot-id": $id}"""
    }.mkString("[", ", ", "]")
    val specJson = st.partCols.zipWithIndex.map { case (c, i) =>
      s"""{"name": ${mapper.writeValueAsString(c)}, "transform": "identity", """ +
        s""""source-id": ${idOf(c)}, "field-id": ${1000 + i}}"""
    }.mkString(", ")
    val metaJson =
      s"""{"format-version": 2,
         |"table-uuid": "${java.util.UUID.randomUUID()}",
         |"location": ${mapper.writeValueAsString(path)},
         |"last-updated-ms": $nowMs,
         |"last-column-id": ${fieldIds.map(_._2).maxOption.getOrElse(0)},
         |"last-sequence-number": $seq,
         |"current-schema-id": 0,
         |"schemas": [$schemaJsonIce],
         |"default-spec-id": 0,
         |"partition-specs": [{"spec-id": 0, "fields": [$specJson]}],
         |"current-snapshot-id": $snapshotId,
         |"snapshot-log": $logJson,
         |"snapshots": ${(base.snapshots.map(mapper.writeValueAsString) :+ snapshotJson)
      .mkString("[", ", ", "]")}}""".stripMargin
    IcebergLog.commit(base, metaJson)
    entries.size.toLong
  }

  // ------------------------------------------------------------------
  // Iceberg → Delta (the reverse migration, same zero-copy contract)
  // ------------------------------------------------------------------

  /** Marker key in commitInfo recording which Iceberg snapshot a
    * conversion commit mirrors. */
  private[graft] val IcebergSnapshotKey = "graftConvertedIcebergSnapshot"

  private def sparkTypeOf(typeText: String): DataType = typeText match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case dec if dec.startsWith("decimal(") =>
      val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")").split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case "timestamp" => throw IcebergReadException(
      "convert_to_delta: `timestamp` (no zone) maps to Delta's timestampNtz " +
        "reader feature (protocol v3) — out of this converter's scope; " +
        "timestamptz converts")
    case other => throw IcebergReadException(
      s"convert_to_delta: iceberg type `$other` has no flat Delta mapping")
  }

  /** Convert (or re-sync) the Iceberg table at `path` to a Delta
    * transaction log in the same root — `_delta_log/` commits referencing
    * the SAME parquet data files the current snapshot references, with
    * footer-derived add.stats so plan-time skipping works immediately.
    * Zero data movement, O(live files) driver work. Re-running after
    * further Iceberg snapshots appends a diff commit (idempotent per
    * snapshot via a commitInfo marker). Returns the live-file count of
    * the new Delta version; -1 if the current snapshot is already
    * converted.
    *
    * Correctness gates (reject loudly, never misconvert):
    *   - row-level deletes (positional/equality/puffin DVs) are invisible
    *     to a Delta reader — compact first (`rewriteDataFiles`);
    *   - non-identity partition transforms have no Delta equivalent;
    *   - a data file whose footer column names don't cover the schema
    *     (rename history — ids resolve it, Delta mode=none names can't);
    *   - an existing `_delta_log` this converter did not produce.
    *
    * Identity partition values come from each manifest entry's partition
    * tuple → add.partitionValues (the protocol's string serialization);
    * the columns stay IN the data files per the Iceberg spec, which the
    * Delta scan simply never requests (partition columns are served from
    * the log). */
  def icebergToDelta(spark: SparkSession, path: String): Long = {
    val snap = IcebergLog.snapshot(spark, path)
    if (!snap.exists) throw IcebergReadException(
      s"convert_to_delta: `$path` has no metadata/*.metadata.json — not an " +
        "Iceberg table")
    val (rootPath, conf, fs, meta) = (snap.root, snap.conf, snap.fs, snap.meta)
    val snapId = snap.currentSnapshotId
    if (snapId == -1L) throw IcebergReadException(
      s"convert_to_delta: `$path` has no current snapshot — nothing to convert")
    val current = snap.snapshotById(snapId).getOrElse(
      throw IcebergReadException(
        s"convert_to_delta: `$path` current-snapshot-id $snapId not in snapshots"))

    // ---- schema: current-schema-id, flat primitives only ----
    val schemaNode = snap.currentSchema
    val fields: Seq[(Int, StructField)] = schemaNode.path("fields").elements().asScala.map { f =>
      val t = f.path("type")
      if (!t.isTextual) throw IcebergReadException(
        s"convert_to_delta: column `${f.path("name").asText()}` is nested — " +
          "out of this converter's scope (same flat-schema gate as the " +
          "delta→iceberg direction)")
      (f.path("id").asInt(),
        StructField(f.path("name").asText(), sparkTypeOf(t.asText()),
          nullable = !f.path("required").asBoolean(false)))
    }.toSeq
    val schema = StructType(fields.map(_._2))
    val nameOfId: Map[Int, String] = fields.map { case (id, f) => id -> f.name }.toMap

    // ---- partition spec: identity transforms only ----
    val specId = meta.path("default-spec-id").asInt(0)
    val specFields = meta.path("partition-specs").elements().asScala
      .find(_.path("spec-id").asInt(-1) == specId)
      .map(_.path("fields").elements().asScala.toSeq)
      .orElse(Option(meta.path("partition-spec")).filter(!_.isMissingNode)
        .map(_.elements().asScala.toSeq))
      .getOrElse(Seq.empty)
    // (specFieldName, columnName) pairs: the avro partition record's field
    // names are the SPEC field names, which is how entries resolve below —
    // positional zipping would silently mispair entries written under an
    // older evolved spec with the same field count
    val partPairs: Seq[(String, String)] = specFields.map { sf =>
      val tr = sf.path("transform").asText("identity")
      if (tr != "identity" && tr != "void") throw IcebergReadException(
        s"convert_to_delta: partition transform `$tr` has no Delta equivalent — " +
          "identity-partitioned tables only")
      val colName = nameOfId.getOrElse(sf.path("source-id").asInt(),
        throw IcebergReadException(
          s"convert_to_delta: partition source-id ${sf.path("source-id").asInt()} " +
            "not in the current schema"))
      sf.path("name").asText(colName) -> colName
    }
    val partCols: Seq[String] = partPairs.map(_._2)

    // ---- walk the manifest list: live parquet data files, no deletes ----
    val manifests = snap.manifestsOf(current)
    if (manifests.exists(_.content == 1)) throw IcebergReadException(
      s"convert_to_delta: `$path` snapshot $snapId carries row-level delete " +
        "manifests — their dead rows are invisible to a Delta reader; run " +
        "rewriteDataFiles (compaction) first")

    final case class LiveFile(rel: String, abs: Path, size: Long,
        partitionValues: Map[String, String])
    // Delta partition-value serialization (PROTOCOL.md Partition Value
    // Serialization): only the types whose avro runtime form stringifies to
    // the protocol's form are converted; timestamptz (avro micros Long),
    // decimal/fixed/binary (ByteBuffer), and float/double (Java scientific
    // notation) would silently serialize WRONG strings — reject loudly.
    def pvString(v: AnyRef, dt: DataType): String = (dt, v) match {
      case (_, null) => null
      case (DateType, n: Number) =>
        java.time.LocalDate.ofEpochDay(n.longValue()).toString
      case (StringType | IntegerType | LongType | ShortType | ByteType |
            BooleanType, other) => other.toString
      case (other, _) => throw IcebergReadException(
        s"convert_to_delta: identity partition on ${other.simpleString} has no " +
          "implemented Delta partition-value serialization (string/int/long/" +
          "date/bool only) — rewrite the table unpartitioned or on a " +
          "supported column first")
    }
    val live: Seq[LiveFile] = manifests.flatMap(snap.entries).filter(_.live).map { e =>
      val df = e.file
      if (e.content != 0) throw IcebergReadException(
        s"convert_to_delta: `$path` snapshot $snapId references delete " +
          s"file ${df.get("file_path")} — compact first (rewriteDataFiles)")
      val fmt = e.format.toUpperCase
      if (fmt != "PARQUET") throw IcebergReadException(
        s"convert_to_delta: data file format $fmt — Delta data files are " +
          "parquet only")
      val fp = df.get("file_path").toString
      val abs = new Path(e.path)
      val rootStr = fs.makeQualified(rootPath).toString
      val absStr = fs.makeQualified(abs).toString
      if (!absStr.startsWith(rootStr + "/")) throw IcebergReadException(
        s"convert_to_delta: data file `$fp` lives outside the table root — " +
          "a same-root Delta log cannot reference it relatively")
      val rel = absStr.stripPrefix(rootStr + "/")
      val size = IcebergLog.field(df, "file_size_in_bytes").map(_.asInstanceOf[Number].longValue())
        .filter(_ > 0).getOrElse(fs.getFileStatus(abs).getLen)
      val pv: Map[String, String] = e.partition match {
        case Some(pr) =>
          // resolve r102 fields by NAME against the spec fields — an
          // entry written under an older evolved spec with the same
          // field count would mispair silently under positional zip
          partPairs.map { case (specName, c) =>
            val rf = Option(pr.getSchema.getField(specName)).getOrElse(
              throw IcebergReadException(
                s"convert_to_delta: data file `$fp` partition record has " +
                  s"no field `$specName` (fields: ${pr.getSchema.getFields
                    .asScala.map(_.name).mkString(", ")}) — written under " +
                  "a different partition spec; rewrite the table first"))
            c -> pvString(pr.get(rf.pos()), schema(c).dataType)
          }.toMap
        case None => Map.empty
      }
      if (partCols.nonEmpty && pv.size != partCols.size) throw IcebergReadException(
        s"convert_to_delta: data file `$fp` carries ${pv.size} partition " +
          s"values for ${partCols.size} spec fields — refusing to guess")
      LiveFile(rel, abs, size, pv)
    }

    // ---- footer-name probe over EVERY live file: Delta mode=none resolves
    // by NAME, and the doc promises "reject loudly, never misconvert" — a
    // rename-history file outside a sample would convert silently and read
    // NULL. Footer reads are bounded driver work the stats pass below
    // already pays O(live files) for.
    val dataCols = schema.fieldNames.filterNot(partCols.contains).toSet
    val probeIdx = live.indices
    probeIdx.foreach { i =>
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(live(i).abs, conf))
      val names = try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet finally rdr.close()
      val missing = dataCols -- names
      if (missing.nonEmpty) throw IcebergReadException(
        s"convert_to_delta: data file `${live(i).rel}` lacks columns " +
          s"${missing.toSeq.sorted.mkString(", ")} by name (a rename in the " +
          "iceberg history — field ids resolve it, Delta mode=none names " +
          "cannot); rewrite the table first")
    }

    // ---- existing _delta_log: only our own conversions may re-sync ----
    val st = DeltaLog.snapshot(spark, path)
    if (st.exists) {
      val markers = st.commits.map { case (_, c) =>
        DeltaLog.readActions(fs, c.getPath).flatMap { node =>
          Option(node.path("commitInfo").path(IcebergSnapshotKey))
            .filter(!_.isMissingNode).map(_.asLong())
        }.headOption
      }
      if (markers.exists(_.isEmpty)) throw IcebergReadException(
        s"convert_to_delta: `$path` already has a _delta_log this converter " +
          "did not produce — it IS a Delta table; refusing to fork its history")
      if (markers.flatten.contains(snapId)) return -1L // snapshot already synced
      val prevSchema = st.schemaJson.map(DataType.fromJson)
      if (prevSchema.exists(_ != schema)) throw IcebergReadException(
        s"convert_to_delta: `$path` schema changed since the last conversion — " +
          "schema-evolving re-syncs are out of scope; convert into a fresh root")
    }

    // ---- one commit: metaData on create, then set-diff adds/removes ----
    val creating = !st.exists
    val nowMs = System.currentTimeMillis()
    val lines = Seq.newBuilder[String]
    if (creating) {
      lines += s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      lines += DeltaSink.metaDataAction(None, schema, partCols, Map.empty, Some(nowMs))
    }
    val newLive: Set[String] = live.map(_.rel).toSet
    st.live.toSeq.filter(p => !newLive.contains(p._1)).sortBy(_._1).foreach { case (p, e) =>
      lines += DeltaSink.removeJson(p, e, nowMs, dataChange = true)
    }
    live.filter(f => !st.live.contains(f.rel)).foreach { f =>
      lines += DeltaSink.addJson(f.rel, f.partitionValues, f.size,
        fs.getFileStatus(f.abs).getModificationTime, dataChange = true,
        Some(DeltaSink.footerStats(spark, f.abs, schema, partCols)))
    }
    DeltaSink.commit(fs, st, path, "CONVERT", Nil, lines.result(),
      info = Seq(IcebergSnapshotKey -> snapId))
    live.size.toLong
  }
}
