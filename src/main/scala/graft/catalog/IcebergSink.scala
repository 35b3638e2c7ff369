package graft.catalog

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Native ICEBERG writer — `COPY (SELECT ...) TO '<root>' (FORMAT
  * iceberg)` with no iceberg jar, the write-side mirror of
  * `sources/IcebergNative`, built from the public table spec
  * (iceberg.apache.org/spec; reference surface is read-only
  * `iceberg_scan`, /root/reference/src/duckdb/iceberg.rs:48-89).
  *
  * Create lays down `metadata/v1.metadata.json` (format v2: schema with
  * field ids, empty default partition spec, snapshot + snapshot-log) plus
  * one Avro manifest list and manifest; append adds a new manifest and a
  * new snapshot whose list carries the previous snapshot's manifests too;
  * overwrite's new snapshot references only the new manifest. Data files
  * are written WITH parquet field ids matching the table schema (Spark's
  * fieldId.write path), so the native reader's id-based column resolution
  * — and any real Iceberg reader — resolves renames correctly later.
  *
  * Scale shape: the data write is a plain distributed parquet write;
  * manifests/metadata are bounded driver work (one footer stat per new
  * file, one Avro manifest per commit — the iceberg-core arrangement).
  *
  * Scope (rejects loudly otherwise): flat schemas of the primitive types
  * the reader round-trips (nested field-id assignment through Spark's
  * writer needs per-level metadata plumbing — a connector-jar feature),
  * single writer (version-file collision errors). Partitioning via
  * `partition_by` with the spec's transforms — `c` (identity on
  * int/long/string/boolean), `bucket(N, c)` (murmur3 per Appendix B, the
  * reader's own iceberg_bucket expression), `truncate(W, c)` (floor for
  * int/long, prefix for string), `year(c)`/`month(c)`/`day(c)`/`hour(c)`
  * (UTC-correct, the same closed forms the reader's equality-delete
  * scoping uses): dynamic fanout on COPIES of the transform values, so
  * each data file holds one partition tuple (recorded in the manifest's
  * r102 record, typed per the transform's result) while the real source
  * columns stay in the files as the spec expects; spec evolution rejects
  * loudly. */
object IcebergSink {
  import graft.sources.IcebergLog
  import graft.sources.IcebergNative.IcebergReadException

  private val mapper = new ObjectMapper()

  val validOptions: Set[String] =
    Set("overwrite", "compression", "max_file_size_rows", "partition_by",
      "sort_by", "branch", "identifier_fields", "row_lineage")

  // ------------------------------------------- partition-spec transforms

  /** One partition-spec field: spec-convention name, the spec's transform
    * string (`identity`, `bucket[N]`, `truncate[W]`, `year|month|day|hour`),
    * its source column, and the transform's RESULT type (what the r102
    * tuple and the fanout value carry). */
  private[catalog] final case class PartField(name: String, transform: String,
      srcCol: String, resultType: DataType)

  private val bucketCallRe = """(?i)^bucket\s*\(\s*(\d+)\s*,\s*([^)]+?)\s*\)$""".r
  private val truncCallRe = """(?i)^truncate\s*\(\s*(\d+)\s*,\s*([^)]+?)\s*\)$""".r
  private val unaryCallRe = """(?i)^(years?|months?|days?|hours?)\s*\(\s*([^)]+?)\s*\)$""".r

  /** Parse a `partition_by` entry list (`c`, `bucket(16, c)`,
    * `truncate(4, c)`, `day(ts)`, …) against the frame schema, with the
    * spec's per-transform source-type rules enforced loudly. */
  private[catalog] def parsePartitionBy(entries: Seq[String],
      schema: StructType): Seq[PartField] = {
    val parsed = parsePartitionBy0(entries, schema)
    val dup = parsed.groupBy(_.name).collectFirst { case (n, fs) if fs.size > 1 => n }
    dup.foreach(n => throw IcebergReadException(
      s"partition_by produces duplicate spec field `$n` — each transform of a " +
        "column may appear once"))
    parsed
  }

  private def parsePartitionBy0(entries: Seq[String],
      schema: StructType): Seq[PartField] = entries.map { raw =>
    def src(c: String): StructField = schema.fields.find(_.name == c).getOrElse(
      throw IcebergReadException(s"partition_by column `$c` is not in the frame"))
    raw match {
      case bucketCallRe(n, c) =>
        src(c).dataType match {
          case IntegerType | LongType | DateType | TimestampType | StringType => ()
          case other => throw IcebergReadException(
            s"partition_by bucket($n, $c): bucket on ${other.simpleString} is " +
              "not supported (int/long/date/timestamp/string)")
        }
        PartField(s"${c}_bucket", s"bucket[$n]", c, IntegerType)
      case truncCallRe(w, c) =>
        val dt = src(c).dataType
        dt match {
          case IntegerType | LongType | StringType => ()
          case other => throw IcebergReadException(
            s"partition_by truncate($w, $c): truncate on ${other.simpleString} " +
              "is not supported (int/long/string)")
        }
        PartField(s"${c}_trunc", s"truncate[$w]", c, dt)
      case unaryCallRe(t, c) =>
        val canon = t.toLowerCase.stripSuffix("s")
        (canon, src(c).dataType) match {
          case ("hour", TimestampType) => ()
          case ("year" | "month" | "day", DateType | TimestampType) => ()
          case (_, other) => throw IcebergReadException(
            s"partition_by $t($c): $canon on ${other.simpleString} is not " +
              "supported (date/timestamp; hour needs timestamp)")
        }
        PartField(s"${c}_$canon", canon, c, IntegerType)
      case c =>
        src(c).dataType match {
          case IntegerType | LongType | StringType | BooleanType |
            ShortType | ByteType | DateType | TimestampType |
            TimestampNTZType => ()
          case other => throw IcebergReadException(
            s"partition_by column `$c`: identity partitioning on " +
              s"${other.simpleString} is not supported by this native writer " +
              "(int/long/string/boolean/date/timestamp)")
        }
        PartField(c, "identity", c, src(c).dataType)
    }
  }

  private val bucketTrRe = """bucket\[(\d+)\]""".r
  private val truncTrRe = """truncate\[(\d+)\]""".r

  private def avroTypeFor(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case BooleanType => "\"boolean\""
    // spec partition-tuple encodings: date = int epoch days,
    // timestamp/timestamptz = long micros (Iceberg spec, Appendix A Avro)
    case DateType => "\"int\""
    case TimestampType | TimestampNTZType => "\"long\""
    case _ => "\"string\""
  }

  private def icePrimToSpark(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "string" => StringType
    case "boolean" => BooleanType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case "double" => DoubleType
    case "float" => FloatType
    case other => throw IcebergReadException(
      s"partition source type `$other` is not supported for partitioned appends")
  }

  /** The spec's primitive type name for a Spark type; `op` prefixes the
    * rejection of a type with no mapping. */
  private[catalog] def iceType(dt: DataType, op: String): String = dt match {
    case BooleanType => "boolean"
    case ByteType | ShortType | IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw IcebergReadException(
      s"$op: type ${other.simpleString} has no iceberg mapping")
  }

  /** The table's default partition spec as PartFields, source types read
    * from the current schema's (textual) field types. Empty when
    * unpartitioned. */
  private def morPartFields(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[PartField] = {
    val specs = defaultSpecFields(meta)
    if (specs.isEmpty) return Nil
    val byId: Map[Int, (String, String)] = IcebergLog.currentSchema(meta).path("fields").elements().asScala
      .collect { case f if f.path("type").isTextual =>
        f.path("id").asInt() -> (f.path("name").asText(), f.path("type").asText())
      }.toMap
    specs.map { case (nm, tr, srcId) =>
      val (src, typeText) = byId.getOrElse(srcId, throw IcebergReadException(
        s"partition spec source-id $srcId is not a primitive current-schema field"))
      PartField(nm, tr, src, resultTypeOf(tr, icePrimToSpark(typeText)))
    }
  }

  /** Parse the one-tuple-per-file fanout directory values back into typed
    * r102 partition values. */
  private def parseTuple(p: Path, partFields: Seq[PartField]): Seq[Any] =
    partFields.zipWithIndex.map { case (pf, i) =>
      val re = (s"__gpk$i=([^/]*)").r
      val raw = re.findFirstMatchIn(p.toString).map(_.group(1)).getOrElse(
        throw IcebergReadException(
          s"partitioned write produced a file outside __gpk$i=: $p"))
      val decoded = java.net.URLDecoder.decode(raw, "UTF-8")
      if (decoded == "__HIVE_DEFAULT_PARTITION__") null
      else pf.resultType match {
        case IntegerType | ShortType | ByteType => Int.box(decoded.toInt)
        case LongType => Long.box(decoded.toLong)
        case BooleanType => Boolean.box(decoded.toBoolean)
        // fanout columns carry these pre-converted to the spec's numeric
        // encodings (transformCol identity): date = epoch days, ts = micros
        case DateType => Int.box(decoded.toInt)
        case TimestampType | TimestampNTZType => Long.box(decoded.toLong)
        case _ => decoded
      }
    }

  /** (data_file, manifest_entry) Avro schemas with the spec's r102
    * partition record inserted, typed per each field's transform result —
    * the object-level flat schemas when the spec is empty. */
  private def manifestSchemasFor(partFields: Seq[PartField])
      : (org.apache.avro.Schema, org.apache.avro.Schema) =
    if (partFields.isEmpty) (dfSchema, entrySchema)
    else {
      val pf = partFields.map { p =>
        s"""{"name":${mapper.writeValueAsString(p.name)},"type":["null",${
          avroTypeFor(p.resultType)}],"default":null}"""
      }.mkString(",")
      val d = new org.apache.avro.Schema.Parser().parse(
        s"""{"type":"record","name":"r2","fields":[
          {"name":"content","type":["null","int"],"default":null},
          {"name":"file_path","type":"string"},
          {"name":"file_format","type":"string"},
          {"name":"first_row_id","type":["null","long"],"default":null},
          {"name":"partition","type":["null",{"type":"record","name":"r102","fields":[$pf]}],"default":null},
          {"name":"record_count","type":"long"},
          {"name":"file_size_in_bytes","type":["null","long"],"default":null},
          {"name":"content_offset","type":["null","long"],"default":null},
          {"name":"content_size_in_bytes","type":["null","long"],"default":null},
          {"name":"referenced_data_file","type":["null","string"],"default":null},
          {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
          {"name":"lower_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
          {"name":"upper_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
          {"name":"null_value_counts","type":["null",{"type":"map","values":"long"}],"default":null}]}""")
      val e = new org.apache.avro.Schema.Parser().parse(
        s"""{"type":"record","name":"manifest_entry","fields":[
          {"name":"status","type":"int"},
          {"name":"sequence_number","type":["null","long"],"default":null},
          {"name":"data_file","type":${d.toString}}]}""")
      (d, e)
    }

  /** One appended merge-on-read data file: rel path, byte size, row count,
    * its (possibly empty) r102 partition tuple, and footer-derived column
    * bounds — the same skipping fuel the create/append path records, so
    * UPDATE/MERGE/upsert images and compaction survivors stay prunable. */
  private final case class MorDataFile(rel: String, size: Long, rows: Long,
    tuple: Seq[Any],
    lower: java.util.Map[String, java.nio.ByteBuffer] =
      java.util.Collections.emptyMap[String, java.nio.ByteBuffer](),
    upper: java.util.Map[String, java.nio.ByteBuffer] =
      java.util.Collections.emptyMap[String, java.nio.ByteBuffer](),
    nullCounts: java.util.Map[String, java.lang.Long] =
      java.util.Collections.emptyMap[String, java.lang.Long]())

  private def resultTypeOf(transform: String, srcType: DataType): DataType =
    transform match {
      case "identity" => srcType
      case bucketTrRe(_) => IntegerType
      case truncTrRe(_) => srcType
      case "year" | "years" | "month" | "months" | "day" | "days" |
        "hour" | "hours" => IntegerType
      case other => throw IcebergReadException(
        s"partition transform `$other` is not supported by this native writer")
    }

  /** The transform as a Column over the frame — the SAME closed forms the
    * reader's equality-delete scoping recomputes (UTC-correct temporal
    * decomposition, pmod floor truncation, the native iceberg_bucket
    * murmur3), so writer tuples and reader scopes can never disagree. */
  private def transformCol(schema: StructType, pf: PartField): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, date_add, datediff, expr, lit,
      month, pmod, substring, unix_micros, year}
    val src = col(pf.srcCol)
    val dt = schema(pf.srcCol).dataType
    val quoted = "`" + pf.srcCol.replace("`", "``") + "`"
    def floorDiv(c: org.apache.spark.sql.Column, d: Long) =
      ((c - pmod(c, lit(d))) / lit(d)).cast("long")
    def utcDate(ts: org.apache.spark.sql.Column) =
      date_add(lit(java.sql.Date.valueOf("1970-01-01")),
        floorDiv(unix_micros(ts), 86400000000L).cast("int"))
    pf.transform match {
      // identity over temporals emits the spec's NUMERIC tuple encoding
      // (date = int epoch days, timestamp = long micros) so the r102 record
      // and the reader's tuple-derived bounds see typed values, never a
      // rendered string. Session tz is pinned UTC (Engine.configure), so the
      // NTZ→TZ cast is numerically a no-op and yields the local micros the
      // spec's `timestamp` type stores.
      case "identity" => dt match {
        case DateType => datediff(src, lit(java.sql.Date.valueOf("1970-01-01")))
        case TimestampType => unix_micros(src)
        case TimestampNTZType => unix_micros(src.cast(TimestampType))
        case _ => src
      }
      case bucketTrRe(n) => expr(s"iceberg_bucket($quoted, $n)")
      case truncTrRe(w) => dt match {
        case IntegerType | LongType => (src - pmod(src, lit(w.toLong))).cast(dt)
        case StringType => substring(src, 1, w.toInt)
        case other => throw IcebergReadException(
          s"truncate over ${other.simpleString} is not supported")
      }
      case "year" | "years" => (dt match {
        case DateType => year(src) - lit(1970)
        case _ => year(utcDate(src)) - lit(1970)
      }).cast("int")
      case "month" | "months" => (dt match {
        case DateType => (year(src) - lit(1970)) * lit(12) + month(src) - lit(1)
        case _ =>
          (year(utcDate(src)) - lit(1970)) * lit(12) + month(utcDate(src)) - lit(1)
      }).cast("int")
      case "day" | "days" => (dt match {
        case DateType => datediff(src, lit(java.sql.Date.valueOf("1970-01-01")))
        case _ => floorDiv(unix_micros(src), 86400000000L)
      }).cast("int")
      case "hour" | "hours" => floorDiv(unix_micros(src), 3600000000L).cast("int")
      case other => throw IcebergReadException(
        s"partition transform `$other` is not supported by this native writer")
    }
  }

  // ------------------------------------------------------- Avro schemas
  // Written per the spec's manifest/manifest-list required core; optional
  // columns consumers may want but this writer doesn't track are omitted —
  // Avro readers resolve by name, absent optional fields read as null.
  // lower/upper bounds + null counts ride as Avro MAPS keyed by the field
  // id's decimal string — one of the two key encodings the spec's readers
  // (including this library's own) accept for the int-keyed stats maps
  // v3 row lineage (spec "Row Lineage"): the reserved column names and
  // field ids rows materialize under when they MOVE (compaction, MOR
  // update images), plus the first_row_id manifest-entry field that fuels
  // default id arithmetic (first_row_id + row position)
  private[catalog] val RowIdColName = "_row_id"
  private[catalog] val LastSeqColName = "_last_updated_sequence_number"
  private val RowIdFieldId = 2147483540L
  private val LastSeqFieldId = 2147483539L

  private val dfSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"r2","fields":[
      {"name":"content","type":["null","int"],"default":null},
      {"name":"file_path","type":"string"},
      {"name":"file_format","type":"string"},
      {"name":"first_row_id","type":["null","long"],"default":null},
      {"name":"record_count","type":"long"},
      {"name":"file_size_in_bytes","type":["null","long"],"default":null},
      {"name":"content_offset","type":["null","long"],"default":null},
      {"name":"content_size_in_bytes","type":["null","long"],"default":null},
      {"name":"referenced_data_file","type":["null","string"],"default":null},
      {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null},
      {"name":"lower_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
      {"name":"upper_bounds","type":["null",{"type":"map","values":"bytes"}],"default":null},
      {"name":"null_value_counts","type":["null",{"type":"map","values":"long"}],"default":null}]}""")
  private val entrySchema = new org.apache.avro.Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int"},
      {"name":"sequence_number","type":["null","long"],"default":null},
      {"name":"data_file","type":${dfSchema.toString}}]}""")
  private val listSchema = new org.apache.avro.Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string"},
      {"name":"content","type":["null","int"],"default":null},
      {"name":"sequence_number","type":["null","long"],"default":null}]}""")

  /** Record count + Appendix-D single-value bounds + null counts from one
    * parquet footer, keyed by field-id decimal string — the skipping fuel
    * the manifest-backed FileIndex burns at plan time (the write→read
    * loop DeltaSink already closes with add.stats). Parquet CHUNK
    * statistics are exact or absent (truncation is a column-index
    * feature), so a present bound is a true bound; block stats merge via
    * parquet's own typed comparators. Unsupported types just omit. */
  private[catalog] def footerInfo(p: Path, conf: org.apache.hadoop.conf.Configuration,
      fieldIds: Seq[(StructField, Int)]): (Long,
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.lang.Long]) =
    footerInfoIn(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf), fieldIds)

  private[catalog] def footerInfo(st0: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration,
      fieldIds: Seq[(StructField, Int)]): (Long,
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.lang.Long]) =
    footerInfoIn(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st0, conf), fieldIds)

  private def footerInfoIn(in: org.apache.parquet.hadoop.util.HadoopInputFile,
      fieldIds: Seq[(StructField, Int)]): (Long,
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.nio.ByteBuffer],
        java.util.Map[String, java.lang.Long]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import java.nio.{ByteBuffer, ByteOrder}
    val lower = new java.util.HashMap[String, ByteBuffer]()
    val upper = new java.util.HashMap[String, ByteBuffer]()
    val nulls = new java.util.HashMap[String, java.lang.Long]()
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val records = blocks.map(_.getRowCount).sum
      fieldIds.foreach { case (f, id) =>
        val stats = blocks.flatMap(_.getColumns.asScala.find(
          _.getPath.asScala.toSeq == Seq(f.name))).map(_.getStatistics)
        if (stats.nonEmpty && stats.forall(s => s != null && !s.isEmpty)) {
          val merged = stats.head.copy()
          stats.tail.foreach(merged.mergeStatistics(_))
          if (merged.isNumNullsSet)
            nulls.put(id.toString, Long.box(merged.getNumNulls))
          def le(n: Int)(fill: ByteBuffer => Unit): ByteBuffer = {
            val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
            fill(b); b.flip(); b
          }
          def enc(v: Any): Option[ByteBuffer] = (f.dataType, v) match {
            case (IntegerType | ShortType | ByteType | DateType, i: Number) =>
              Some(le(4)(_.putInt(i.intValue())))
            case (LongType | TimestampType | TimestampNTZType, l: Number) =>
              Some(le(8)(_.putLong(l.longValue())))
            case (FloatType, x: Number) => Some(le(4)(_.putFloat(x.floatValue())))
            case (DoubleType, x: Number) => Some(le(8)(_.putDouble(x.doubleValue())))
            case (BooleanType, b0: java.lang.Boolean) =>
              Some(ByteBuffer.wrap(Array[Byte](if (b0) 1 else 0)))
            case (StringType, b0: org.apache.parquet.io.api.Binary) =>
              Some(ByteBuffer.wrap(b0.getBytes))
            // spec Appendix D: the unscaled value as minimal big-endian
            // two's-complement bytes, whichever physical form holds it
            // (INT32/INT64 numbers, fixed-length big-endian bytes)
            case (_: DecimalType, n: Number) =>
              Some(ByteBuffer.wrap(java.math.BigInteger.valueOf(n.longValue()).toByteArray))
            case (_: DecimalType, b0: org.apache.parquet.io.api.Binary) =>
              Some(ByteBuffer.wrap(new java.math.BigInteger(b0.getBytes).toByteArray))
            case _ => None
          }
          if (merged.hasNonNullValue) {
            enc(merged.genericGetMin()).foreach(lower.put(id.toString, _))
            enc(merged.genericGetMax()).foreach(upper.put(id.toString, _))
          }
        }
      }
      (records, lower, upper, nulls)
    } finally reader.close()
  }

  /** The default partition spec's field (source-column) names; Nil =
    * unpartitioned. */
  /** Default partition-spec fields as (name, transform, source-id). */
  private def defaultSpecFields(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[(String, String, Int)] = {
    val specId = meta.path("default-spec-id").asInt(0)
    meta.path("partition-specs").elements().asScala
      .find(_.path("spec-id").asInt(-1) == specId)
      .map(_.path("fields").elements().asScala.map(f =>
        (f.path("name").asText(), f.path("transform").asText("identity"),
          f.path("source-id").asInt(-1))).toSeq)
      .getOrElse(Nil)
  }

  /** `txn = Some((appId, version))` makes the commit IDEMPOTENT for
    * streaming micro-batch replays: the pair lands in the snapshot summary
    * (`graft-app-id` / `graft-batch-version` — the summary is a free-form
    * string map per the spec, the same place iceberg's own Spark sink
    * records its checkpoint lineage) and a write at or below the app's
    * highest committed version is silently skipped. */
  def write(df: DataFrame, path: String, options: Map[String, String],
      txn: Option[(String, Long)] = None): Unit = {
    options.keys.find(k => !validOptions.contains(k.toLowerCase)).foreach { k =>
      throw Catalog.InvalidOptionException(
        s"invalid COPY option `$k` for format `iceberg`; valid options: " +
          validOptions.toSeq.sorted.mkString(", "))
    }
    val spark = df.sparkSession
    val base = IcebergLog.snapshot(spark, path)
    val (rootPath, fs, metaDir) = (base.root, base.fs, base.metaDir)
    val overwrite = options.get("overwrite").exists(_.toBoolean)

    // ---- schema with field ids (flat; the scope gate) ----
    df.schema.fields.foreach { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          throw IcebergReadException(
            s"column `${f.name}`: nested types are not supported by this native " +
              "iceberg writer (field-id plumbing through Spark's parquet writer " +
              "is top-level only); use an iceberg connector jar")
        case _ => ()
      }
    }
    // positional ids on create; an APPEND re-derives them from the table's
    // current schema below (after ADD COLUMN evolution they still match by
    // name, and the table's ids are the protocol truth)
    var fieldIds: Seq[(StructField, Int)] = df.schema.fields.toSeq.zipWithIndex
      .map { case (f, i) => (f, i + 1) }
    lazy val schemaJson: String = {
      val sch = mapper.createObjectNode()
      sch.put("type", "struct"); sch.put("schema-id", 0)
      val arr = sch.putArray("fields")
      // identifier_fields=c1,c2 → the spec's `identifier-field-ids`: the
      // declared ROW IDENTITY (what upsert keys default to downstream).
      // The spec's eligibility rules enforced: required (the frame column
      // must be non-nullable), primitive, never float/double (NaN).
      val idCols: Seq[String] = options.get("identifier_fields").toSeq
        .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
      idCols.foreach { c =>
        val f = df.schema.fields.find(_.name == c).getOrElse(
          throw Catalog.InvalidOptionException(
            s"identifier_fields column `$c` is not in the frame's schema"))
        if (f.nullable) throw Catalog.InvalidOptionException(
          s"identifier_fields column `$c` is nullable — the spec requires " +
            "identifier fields to be required; filter nulls and mark it " +
            "non-nullable first")
        f.dataType match {
          case FloatType | DoubleType => throw Catalog.InvalidOptionException(
            s"identifier_fields column `$c` is ${f.dataType.simpleString} — " +
              "float identity (NaN equality) is undefined per the spec")
          case _ => ()
        }
      }
      fieldIds.foreach { case (f, id) =>
        val fn = arr.addObject()
        fn.put("id", id); fn.put("name", f.name)
        fn.put("required", !f.nullable || idCols.contains(f.name))
        fn.put("type", iceType(f.dataType, s"`$path`"))
      }
      if (idCols.nonEmpty) {
        val ids = sch.putArray("identifier-field-ids")
        idCols.foreach(c => ids.add(fieldIds.find(_._1.name == c).get._2))
      }
      mapper.writeValueAsString(sch)
    }

    // ---- partition spec (partition_by=c1,bucket(16,c2),day(ts),…) ----
    // split on TOP-LEVEL commas only: transform calls carry their own
    val partColsOpt: Option[Seq[PartField]] = options.get("partition_by")
      .map { s =>
        val out = Seq.newBuilder[String]
        var depth = 0; val cur = new StringBuilder
        s.foreach {
          case '(' => depth += 1; cur += '('
          case ')' => depth -= 1; cur += ')'
          case ',' if depth == 0 => out += cur.toString; cur.clear()
          case ch => cur += ch
        }
        out += cur.toString
        parsePartitionBy(out.result().map(_.trim).filter(_.nonEmpty), df.schema)
      }

    // ---- existing-table state ----
    // On create `meta` is missing and every lookup below reads its default.
    // Preserved verbatim on existing tables: the table identity and the
    // declared schema/spec history are COMMIT-INVARIANT — regenerating them
    // from the incoming frame would let an append rewrite nullability
    // (required flags) or reset evolution history
    val creating = !base.exists
    val meta = base.meta
    val prevUuid = Some(meta.path("table-uuid").asText()).filter(_.nonEmpty)
    val prevSchemasJson =
      if (meta.has("schemas")) Some(mapper.writeValueAsString(meta.path("schemas"))) else None
    val prevCurrentSchemaId = meta.path("current-schema-id").asInt(0)
    val prevLastColumnId = meta.path("last-column-id").asInt(0)
    val prevSpecsJson =
      if (meta.has("partition-specs")) Some(mapper.writeValueAsString(meta.path("partition-specs")))
      else None
    val prevDefaultSpecId = meta.path("default-spec-id").asInt(0)
    // spec: last-partition-id is the highest assigned partition field id;
    // carry it (or recompute from the specs for older metadata)
    val prevLastPartitionId =
      if (!meta.has("partition-specs")) -1
      else meta.path("last-partition-id").asInt(base.specs
        .flatMap(_.path("fields").elements().asScala.map(_.path("field-id").asInt(0)))
        .maxOption.getOrElse(999))
    val prevSortOrdersJson =
      if (meta.has("sort-orders")) Some(mapper.writeValueAsString(meta.path("sort-orders"))) else None
    val prevDefaultSortOrderId = meta.path("default-sort-order-id").asInt(0)
    // v3 row lineage: next-row-id present in metadata = the table assigns
    // row ids; carried and advanced by every data-adding commit
    val prevNextRowId =
      if (meta.has("next-row-id")) Some(meta.path("next-row-id").asLong()) else None
    // snapshot refs (branches/tags, spec v2 `refs`): tags and non-main
    // branches stay pinned where they are; `main` advances with the commit
    val prevRefs: Map[String, String] = meta.path("refs").properties().asScala
      .map(e => e.getKey -> mapper.writeValueAsString(e.getValue)).toMap
    val prevCurrentId = base.currentSnapshotId
    val rlOpt = options.get("row_lineage").exists(_.toBoolean)
    Seq(RowIdColName, LastSeqColName).find(df.schema.fieldNames.contains)
      .foreach { c =>
        throw IcebergReadException(
          s"column `$c` is a reserved row-lineage name — the engine assigns " +
            "it; rename the frame column")
      }
    // WRITE-AUDIT-PUBLISH: `branch=<name>` commits the snapshot to that
    // REF instead of main — current-snapshot-id and the snapshot-log stay
    // put, the branch ref advances, and `fastForward` publishes it to main
    // after audit queries (`ref=<name>` reads) pass. A missing branch
    // bootstraps at the current head (the WAP convention).
    val branchOpt: Option[String] = options.get("branch").map(_.trim).filter(_.nonEmpty)
    if (branchOpt.contains("main")) throw IcebergReadException(
      s"`$path`: branch=main IS the default write target; drop the option")
    if (creating && branchOpt.isDefined) throw IcebergReadException(
      s"`$path`: branch writes need an existing table — create it on main first")
    var prevManifests: Seq[(String, Long)] = Nil // (path, sequence_number)
    var partColsEff: Seq[PartField] = partColsOpt.getOrElse(Nil)
    var parentId = 0L
    if (!creating) {
      // the table's spec wins; a conflicting explicit option rejects (spec
      // evolution is a connector-jar feature)
      val existingSchema = base.currentSchema
      val nameById = existingSchema.path("fields").elements().asScala
        .map(f => f.path("id").asInt() -> f.path("name").asText()).toMap
      val tableSpec: Seq[PartField] = defaultSpecFields(meta).map {
        case (nm, tr, srcId) =>
          val srcName = nameById.getOrElse(srcId, throw IcebergReadException(
            s"`$path`: partition spec source-id $srcId is not in the current schema"))
          val srcType = df.schema.fields.find(_.name == srcName)
            .map(_.dataType).getOrElse(throw IcebergReadException(
              s"`$path`: partition source column `$srcName` is not in the frame"))
          PartField(nm, tr, srcName, resultTypeOf(tr, srcType))
      }
      partColsOpt.foreach { pc =>
        if (pc.map(p => (p.transform, p.srcCol)) !=
            tableSpec.map(p => (p.transform, p.srcCol)))
          throw IcebergReadException(
            s"`$path`: partition_by ${pc.map(p => s"${p.transform}(${p.srcCol})")
              .mkString(",")} conflicts with the table's partition spec (${
              tableSpec.map(p => s"${p.transform}(${p.srcCol})").mkString(",")}); " +
              "this writer does not evolve partition specs")
      }
      partColsEff = tableSpec
      val existingShape = existingSchema.path("fields").elements().asScala
        .map(f => (f.path("name").asText(), f.path("type").asText())).toSeq
      val incomingShape = fieldIds.map { case (f, _) =>
        (f.name, iceType(f.dataType, s"`$path`")) }
      if (existingShape != incomingShape) throw IcebergReadException(
        s"`$path`: frame schema $incomingShape does not match the table's " +
          s"$existingShape; this writer does not evolve schemas")
      // data files carry the TABLE's field ids (by name; the shape check
      // above guarantees every frame column exists in the table schema)
      val idByName = nameById.map(_.swap)
      fieldIds = df.schema.fields.toSeq.map(f => (f, idByName(f.name)))
      if (rlOpt && prevNextRowId.isEmpty) throw IcebergReadException(
        s"`$path`: row_lineage is fixed at table creation — this table has " +
          "no next-row-id; create a new v3 table with row_lineage=true")
      // idempotence gate: this txn (micro-batch) already landed → no-op
      txn.foreach { case (appId, v2) => if (base.committedBatch(appId) >= v2) return }
      // the snapshot this write BUILDS ON: main's head, or the branch's
      val headId = branchOpt match {
        case None => prevCurrentId
        case Some(b) =>
          val r = base.refs.path(b)
          if (r.has("snapshot-id")) {
            if (r.path("type").asText("branch") != "branch") throw IcebergReadException(
              s"`$path`: ref `$b` is a TAG — tags are immutable points; " +
                "branch writes need a branch (createRef(..., isBranch=true))")
            r.path("snapshot-id").asLong()
          } else prevCurrentId // bootstrap the branch at the current head
      }
      parentId = headId
      val current = base.snapshotById(headId).getOrElse(
        throw IcebergReadException(
          s"`$path`: ${branchOpt.fold("current")(b => s"branch `$b` head")} " +
            s"snapshot $headId not listed"))
      // carry the current snapshot's manifests forward
      if (!overwrite) prevManifests = base.manifestsOf(current).map(m => (m.path, m.seq))
    }

    // ---- distributed data write (with parquet field ids), move under root ----
    // Partitioned layouts: the partition columns are COPIED to __gpk$i and
    // the copy drives Spark's dynamic-partition fanout — so each written
    // file holds exactly ONE partition tuple (parsed back from the dir
    // name below, for the manifest), while the REAL columns stay in the
    // data files as the iceberg spec expects (unlike hive layouts).
    val writeDf0 = df.select(fieldIds.map { case (f, id) =>
      org.apache.spark.sql.functions.col(f.name).as(f.name,
        new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
    }: _*)
    val writeDf1 = partColsEff.zipWithIndex.foldLeft(writeDf0) { case (d, (pf, i)) =>
      d.withColumn(s"__gpk$i", transformCol(df.schema, pf).cast("string"))
    }
    // HASH-DISTRIBUTE by the partition tuple before the fanout (Iceberg's
    // own write.distribution-mode=hash default): without it every task
    // writes a file per distinct tuple it happens to hold — T tasks × P
    // tuples files (measured: w09 at sf1 spent 30+ s moving thousands of
    // tiny files). After the shuffle each tuple lands in exactly one task
    // → at most one file per tuple (hot tuples = one big file, the same
    // trade Iceberg's default makes).
    //
    // `sort_by=c1,c2` is the CLUSTERING lever (the spec's sort orders):
    // unpartitioned, a RANGE shuffle + in-task sort yields files with
    // DISJOINT key ranges — per-file min/max become maximally selective
    // and the bounds-pruning scan opens O(matching) files at 100 TB;
    // partitioned, rows sort within their tuple's task so each file is a
    // sorted run. The order is recorded in metadata `sort-orders`.
    val sortCols: Seq[String] = options.get("sort_by").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    sortCols.find(c => !df.schema.fieldNames.contains(c)).foreach { c =>
      throw Catalog.InvalidOptionException(
        s"sort_by column `$c` is not in the frame's schema")
    }
    val gpkCols = partColsEff.indices
      .map(i => org.apache.spark.sql.functions.col(s"__gpk$i"))
    val sCols = sortCols.map(org.apache.spark.sql.functions.col)
    // PIN the fanout shuffle's width (numShufflePartitions, the same knob
    // Iceberg's hash distribution mode uses): a bare repartition(cols) is
    // AQE-coalescible, and at fixture sizes the whole fanout collapsed to
    // ONE task writing every partition file serially (w09 measured a
    // 1.9 s single-task write). An explicit width keeps tuple→task
    // affinity (still at most one file per tuple) but lets up to N tasks
    // write concurrently; scale deployments inherit their configured
    // shuffle-partition count.
    // floor at the cluster's core count: streaming sinks run with the
    // stream's (deliberately small) state-partition setting, which would
    // collapse the fanout back to a serial writer (x17 measured a 1.4 s
    // single-task write per micro-batch with shuffle.partitions=1)
    val fanN = math.max(df.sparkSession.sessionState.conf.numShufflePartitions,
      df.sparkSession.sparkContext.defaultParallelism)
    val writeDf = (partColsEff.isEmpty, sortCols.isEmpty) match {
      case (true, true) => writeDf1
      case (true, false) =>
        writeDf1.repartitionByRange(sCols: _*).sortWithinPartitions(sCols: _*)
      case (false, true) => writeDf1.repartition(fanN, gpkCols: _*)
      case (false, false) =>
        writeDf1.repartition(fanN, gpkCols: _*)
          .sortWithinPartitions(gpkCols ++ sCols: _*)
    }
    val tmp = new Path(rootPath,
      s"_graft_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    var w = writeDf.write.mode("overwrite")
    if (partColsEff.nonEmpty)
      w = w.partitionBy(partColsEff.indices.map(i => s"__gpk$i"): _*)
    options.get("compression").foreach(v => w = w.option("compression", v))
    options.get("max_file_size_rows").foreach(v => w = w.option("maxRecordsPerFile", v))
    withMicrosTimestamps(df.sparkSession) { w.parquet(tmp.toString) }

    final case class NewFile(rel: String, size: Long, records: Long,
      partValues: Seq[Any],
      lower: java.util.Map[String, java.nio.ByteBuffer],
      upper: java.util.Map[String, java.nio.ByteBuffer],
      nullCounts: java.util.Map[String, java.lang.Long])
    def partValuesOf(p: Path): Seq[Any] = parseTuple(p, partColsEff)
    val newFiles = try {
      val parts = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(tmp, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) parts += st
      }
      // per-file finalize (rename + footer read) in parallel on the driver
      // (ParallelFiles: independent files, input-order results); ONE hadoop
      // conf for every footer read instead of one per file
      val conf = spark.sessionState.newHadoopConf()
      ParallelFiles.mapOrdered(parts.result().zipWithIndex) { case (st, fileIdx) =>
        val pv = partValuesOf(st.getPath)
        // flat data/ layout; the index prefix disambiguates identical
        // task-file names coming from different partition directories
        val name =
          if (partColsEff.isEmpty) st.getPath.getName
          else s"p$fileIdx-${st.getPath.getName}"
        // footer read BEFORE the rename, from the listing's status —
        // skips the length getFileStatus inside open AND the post-rename
        // re-stat (rename changes neither bytes nor length)
        val (records, lb, ub, nvc) = footerInfo(st, conf, fieldIds)
        val dest = new Path(new Path(rootPath, "data"), name)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw IcebergReadException(s"`$path`: failed to move ${st.getPath}")
        NewFile(s"data/$name", st.getLen, records, pv, lb, ub, nvc)
      }
    } finally fs.delete(tmp, true)

    // ---- one manifest + one manifest list + one metadata.json ----
    val lastSnapshotId = base.lastSnapshotId
    val snapshotId = lastSnapshotId + 1
    val seq = base.lastSeq + 1
    val nowMs = System.currentTimeMillis()
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    fs.mkdirs(metaDir)
    def writeAvro(rel: String, sch: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
      val out = fs.create(new Path(rootPath, rel), false)
      val w2 = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
      w2.create(sch, out)
      try rows.foreach(w2.append) finally w2.close()
    }
    // dynamic manifest schema when partitioned: data_file gains the spec's
    // r102 partition record (one tuple per file by construction above)
    val (dfSch, eSch) = manifestSchemasFor(partColsEff)
    val partRecordSchema: Option[org.apache.avro.Schema] =
      if (partColsEff.isEmpty) None
      else Some(dfSch.getField("partition").schema().getTypes.get(1))
    // v3 row lineage: each added file gets an explicit, non-overlapping
    // first_row_id; the snapshot records where its block starts and the
    // metadata's next-row-id advances past everything assigned
    val lineage = (creating && rlOpt) || prevNextRowId.isDefined
    val rowIdBase: Long = prevNextRowId.getOrElse(0L)
    var rowIdNext: Long = rowIdBase
    val manifestRel = s"metadata/m-$snapshotId-$stamp.avro"
    writeAvro(manifestRel, eSch, newFiles.map { f =>
      val d = new GenericData.Record(dfSch)
      d.put("content", null)
      d.put("file_path", f.rel)
      d.put("file_format", "PARQUET")
      if (lineage) {
        d.put("first_row_id", Long.box(rowIdNext))
        rowIdNext += f.records
      }
      partRecordSchema.foreach { prs =>
        val pr = new GenericData.Record(prs)
        partColsEff.zip(f.partValues).foreach { case (p, v) => pr.put(p.name, v) }
        d.put("partition", pr)
      }
      d.put("record_count", f.records)
      d.put("file_size_in_bytes", Long.box(f.size))
      if (!f.lower.isEmpty) d.put("lower_bounds", f.lower)
      if (!f.upper.isEmpty) d.put("upper_bounds", f.upper)
      if (!f.nullCounts.isEmpty) d.put("null_value_counts", f.nullCounts)
      val e = new GenericData.Record(eSch)
      e.put("status", 1) // ADDED
      e.put("sequence_number", Long.box(seq))
      e.put("data_file", d)
      e
    })
    val mlRel = s"metadata/ml-$snapshotId-$stamp.avro"
    writeAvro(mlRel, listSchema,
      (prevManifests :+ (manifestRel, seq)).map { case (p, sq) =>
        val r = new GenericData.Record(listSchema)
        r.put("manifest_path", p)
        r.put("content", null)
        r.put("sequence_number", Long.box(sq))
        r
      })
    val snapshotJson = {
      val sn = mapper.createObjectNode()
      sn.put("snapshot-id", snapshotId)
      // parent = the head this write BUILT ON (main's or the branch's) —
      // NOT the max id, which may belong to another branch's snapshot
      if (parentId > 0) sn.put("parent-snapshot-id", parentId)
      else if (lastSnapshotId > 0) sn.put("parent-snapshot-id", lastSnapshotId)
      sn.put("sequence-number", seq)
      sn.put("timestamp-ms", nowMs)
      // pin the schema this snapshot was written under — a time-travel
      // read serves THIS schema, not a later evolution's (spec field)
      sn.put("schema-id", if (prevSchemasJson.isDefined) prevCurrentSchemaId else 0)
      if (lineage) sn.put("first-row-id", rowIdBase)
      val summary = sn.putObject("summary")
      summary.put("operation", if (overwrite) "overwrite" else "append")
      // the spec's standard metrics fields — external tools (UIs, ops
      // scripts) read these to judge commit size without opening manifests
      summary.put("added-data-files", newFiles.size.toString)
      summary.put("added-records", newFiles.map(_.records).sum.toString)
      summary.put("added-files-size", newFiles.map(_.size).sum.toString)
      txn.foreach { case (appId, v2) =>
        summary.put("graft-app-id", appId)
        summary.put("graft-batch-version", v2.toString)
      }
      sn.put("manifest-list", mlRel)
      mapper.writeValueAsString(sn)
    }
    // the snapshot-log tracks MAIN (spec): branch snapshots don't enter it
    val logJson = (base.snapshotLog ++
      (if (branchOpt.isEmpty) Seq((nowMs, snapshotId)) else Nil))
      .map { case (ts, id) =>
        s"""{"timestamp-ms": $ts, "snapshot-id": $id}"""
      }.mkString("[", ", ", "]")
    // row lineage is a v3 feature; a lineage table declares format 3 from
    // creation (an existing table keeps whatever format it already carries)
    val formatVersion =
      if (creating) (if (rlOpt) 3 else 2)
      else math.max(meta.path("format-version").asInt(2), if (lineage) 3 else 2)
    val metaJson =
      s"""{"format-version": $formatVersion,${
        if (lineage) s"""\n"next-row-id": $rowIdNext,""" else ""}
         |"table-uuid": "${prevUuid.getOrElse(java.util.UUID.randomUUID().toString)}",
         |"location": ${mapper.writeValueAsString(path)},
         |"last-updated-ms": $nowMs,
         |"last-column-id": ${
      if (prevSchemasJson.isDefined) math.max(prevLastColumnId, fieldIds.map(_._2).maxOption.getOrElse(0))
      else fieldIds.map(_._2).maxOption.getOrElse(0)},
         |"last-sequence-number": $seq,
         |"current-schema-id": ${if (prevSchemasJson.isDefined) prevCurrentSchemaId else 0},
         |"schemas": ${prevSchemasJson.getOrElse(s"[$schemaJson]")},
         |"default-spec-id": ${if (prevSpecsJson.isDefined) prevDefaultSpecId else 0},
         |"last-partition-id": ${
      if (prevLastPartitionId >= 0) prevLastPartitionId
      else 999 + partColsEff.size},
         |"partition-specs": ${prevSpecsJson.getOrElse(s"""[{"spec-id": 0, "fields": [${
      partColsEff.zipWithIndex.map { case (p, i) =>
        val srcId = fieldIds.find(_._1.name == p.srcCol).map(_._2).getOrElse(
          throw IcebergReadException(s"partition column `${p.srcCol}` missing a field id"))
        s"""{"name": ${mapper.writeValueAsString(p.name)}, "transform": ${
          mapper.writeValueAsString(p.transform)}, """ +
          s""""source-id": $srcId, "field-id": ${1000 + i}}"""
      }.mkString(", ")}]}]""")},
         |"sort-orders": ${
      prevSortOrdersJson.getOrElse {
        if (sortCols.isEmpty) """[{"order-id": 0, "fields": []}]"""
        else s"""[{"order-id": 0, "fields": []}, {"order-id": 1, "fields": [${
          sortCols.map { c =>
            val srcId = fieldIds.find(_._1.name == c).map(_._2).getOrElse(
              throw IcebergReadException(s"sort_by column `$c` missing a field id"))
            s"""{"transform": "identity", "source-id": $srcId, """ +
              """"direction": "asc", "null-order": "nulls-first"}"""
          }.mkString(", ")}]}]"""
      }},
         |"default-sort-order-id": ${
      prevSortOrdersJson.map(_ => prevDefaultSortOrderId)
        .getOrElse(if (sortCols.isEmpty) 0 else 1)},
         |"current-snapshot-id": ${
      if (branchOpt.isDefined) prevCurrentId else snapshotId},
         |"refs": ${
      {
        val base =
          if (branchOpt.isDefined && !prevRefs.contains("main") && prevCurrentId > 0)
            prevRefs + ("main" ->
              s"""{"snapshot-id": $prevCurrentId, "type": "branch"}""")
          else prevRefs
        base + (branchOpt.getOrElse("main") ->
          s"""{"snapshot-id": $snapshotId, "type": "branch"}""")
      }.map { case (n, j) => s"${mapper.writeValueAsString(n)}: $j" }
        .mkString("{", ", ", "}")},
         |"snapshot-log": $logJson,
         |"snapshots": ${(base.snapshots.map(mapper.writeValueAsString) :+ snapshotJson)
      .mkString("[", ", ", "]")}}""".stripMargin
    IcebergLog.commit(base, metaJson)
  }

  // ------------------------------------------------- merge-on-read core
  /** (referencedDataFileAbs, puffinPathAbs, blobOffset, blobSize,
    * cardinality) for each live v3 deletion vector. */
  private type DvRef = (String, String, Long, Long, Long)

  /** Current-snapshot state a row-level DML pass needs: live data files,
    * prior positional-delete files, the manifest carry-forward list, and
    * the counters the next commit increments. Bounded driver metadata
    * work (the iceberg-core arrangement). */
  private final case class MorState(
      snap: IcebergLog.Snapshot, manifests: Seq[IcebergLog.Manifest],
      dataPaths: Seq[String], priorDeleteFiles: Seq[String],
      dvRefs: Seq[DvRef],
      // equality-delete files (abs path, equality field ids, sequence) and
      // each data file's sequence — eq deletes apply to STRICTLY LOWER seqs
      eqDeletes: Seq[(String, Seq[Int], Long)],
      // record_count summed over the live delete entries (each names one
      // dead row)
      deleteRows: Long,
      dataSeqs: Map[String, Long],
      // each live data file's r102 partition tuple (abs path → field name →
      // avro value) — DV manifest entries echo their referenced file's tuple
      dataTuples: Map[String, Map[String, AnyRef]],
      // each live data file's manifest-declared record_count — the exact
      // deleted-row count for metadata-only whole-file drops
      dataRowCounts: Map[String, Long],
      // v3 row lineage: each live data file's explicit first_row_id
      dataFirstRowIds: Map[String, Long]) {
    def fs: org.apache.hadoop.fs.FileSystem = snap.fs
    def rootPath: Path = snap.root
    def meta: com.fasterxml.jackson.databind.JsonNode = snap.meta
    lazy val lastSnapshotId: Long = snap.lastSnapshotId
    lazy val lastSeq: Long = snap.lastSeq
    def hasEqDeletes: Boolean = eqDeletes.nonEmpty
    /** The metadata's next-row-id: present = the table assigns row ids. */
    def nextRowId: Option[Long] =
      if (meta.has("next-row-id")) Some(meta.path("next-row-id").asLong()) else None
    def hasLineage: Boolean = nextRowId.isDefined
  }

  /** The table's declared DEFAULT sort order as source column names
    * (identity transforms only — the shape this writer records). */
  private def defaultSortCols(meta: com.fasterxml.jackson.databind.JsonNode)
      : Seq[String] = {
    if (!meta.has("sort-orders")) return Nil
    val orderId = meta.path("default-sort-order-id").asInt(0)
    val order = meta.path("sort-orders").elements().asScala
      .find(_.path("order-id").asInt(-1) == orderId).getOrElse(return Nil)
    val idToName: Map[Int, String] = IcebergLog.currentSchema(meta).path("fields")
      .elements().asScala.map(f => f.path("id").asInt() -> f.path("name").asText()).toMap
    val fields = order.path("fields").elements().asScala.toSeq
    if (fields.exists(_.path("transform").asText("identity") != "identity")) Nil
    else fields.flatMap(f => idToName.get(f.path("source-id").asInt(-1)))
  }

  private def loadMorState(spark: org.apache.spark.sql.SparkSession,
      path: String): MorState = {
    val snap = IcebergLog.current(spark, path)
    val manifests = snap.manifestsOf(snap.currentSnapshot)
    val live = manifests.flatMap(snap.entries).filter(_.live)
    val data = live.filter(_.content == 0)
    def fld(e: IcebergLog.Entry, n: String): Option[AnyRef] = IcebergLog.field(e.file, n)
    def deletesIn(format: String) =
      live.filter(e => e.content == 1 && e.format.equalsIgnoreCase(format))
    MorState(snap, manifests, data.map(_.path),
      // EXISTING positional delete files: their dead positions must not
      // re-affect rows, or the returned counts lie
      deletesIn("PARQUET").map(_.path),
      deletesIn("PUFFIN").map { e =>
        (snap.resolve(fld(e, "referenced_data_file").map(_.toString).getOrElse(
          throw IcebergReadException(
            s"`$path`: puffin DV entry lacks referenced_data_file"))).toString,
          e.path,
          fld(e, "content_offset").map(_.asInstanceOf[Long]).getOrElse(4L),
          fld(e, "content_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L),
          e.recordCount)
      },
      live.filter(_.content == 2).map { e =>
        (e.path, fld(e, "equality_ids") match {
          case Some(l: java.util.List[_]) => l.asScala.map(_.asInstanceOf[Number].intValue()).toSeq
          case _ => Nil
        }, e.seq)
      },
      live.filter(_.content != 0).map(_.recordCount).sum,
      data.map(e => e.path -> e.seq).toMap,
      data.filter(_.partition.isDefined).map(e => e.path -> e.tuple).toMap,
      data.map(e => e.path -> e.recordCount).toMap,
      data.flatMap(e => fld(e, "first_row_id").map(v => e.path -> v.asInstanceOf[Long])).toMap)
  }

  /** Positional deletes layered over live deletion vectors are ambiguous
    * (a DV replaces its file's delete state per the v3 spec) — reject
    * rather than risk resurrecting rows. Compaction clears DVs. */
  private def rejectOnDvs(path: String, st: MorState, what: String): Unit =
    if (st.dvRefs.nonEmpty) throw IcebergReadException(
      s"`$path`: table carries live deletion vectors — $what would layer " +
        "positional deletes over them, which the v3 spec resolves by DV " +
        "replacement (rows would resurrect); compact first (rewriteDataFiles)")

  /** Table column (name, field-id) pairs from the current schema. */
  private def schemaFieldIds(
      meta: com.fasterxml.jackson.databind.JsonNode): Seq[(String, Int)] = {
    IcebergLog.currentSchema(meta).path("fields").elements().asScala
      .map(f => (f.path("name").asText(), f.path("id").asInt())).toSeq
  }

  /** Every live row of the current snapshot with its physical coordinates
    * (`__file`, `__pos`) — prior dead positions already anti-joined out.
    * The one distributed scan DELETE/UPDATE/MERGE all start from; a
    * predicate applied on top pushes below the anti-join into the parquet
    * scan (it references only data columns).
    *
    * With `withLineage` on a row-lineage table, the frame additionally
    * carries `__rlid`/`__rlseq` — each surviving row's stable row id and
    * last-updated sequence (materialized value when the file carries it,
    * else first_row_id + position / the file's data sequence) — so
    * rewriting callers can materialize them into the files they write.
    * The PHYSICAL reserved columns are always dropped from `*` either way
    * (they are lineage plumbing, not data). */
  private def liveRows(spark: org.apache.spark.sql.SparkSession,
      st: MorState, withLineage: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
    val key = graft.sources.PathKeys.keyCol _
    // lineage tables hold mixed file schemas (moved rows carry the
    // materialized columns, fresh appends don't) — mergeSchema unions them
    var rows = (if (st.hasLineage)
      spark.read.option("mergeSchema", "true").parquet(st.dataPaths: _*)
    else spark.read.parquet(st.dataPaths: _*))
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").cast("long").as("__pos"))
    if (st.hasLineage) {
      val matPresent = Seq(RowIdColName, LastSeqColName)
        .filter(rows.schema.fieldNames.contains)
      if (withLineage) {
        import spark.implicits._
        def mat(n: String) =
          if (matPresent.contains(n)) col(n) else lit(null).cast("long")
        val info = st.dataPaths.map { p =>
          (graft.sources.PathKeys.key(p),
            st.dataFirstRowIds.get(p).map(Long.box).orNull,
            st.dataSeqs.get(p).map(Long.box).orNull)
        }.toDF("__rlk", "__rlbase", "__rlfseq")
        rows = rows
          .withColumn("__rlk", key(col("__file")))
          .join(broadcast(info), Seq("__rlk"), "left")
          .withColumn("__rlid", coalesce(mat(RowIdColName), col("__rlbase") + col("__pos")))
          .withColumn("__rlseq", coalesce(mat(LastSeqColName), col("__rlfseq")))
          .drop("__rlk", "__rlbase", "__rlfseq")
      }
      rows = rows.drop(matPresent: _*)
    }
    if (st.priorDeleteFiles.nonEmpty) {
      val dead = spark.read.parquet(st.priorDeleteFiles: _*)
        .select(key(col("file_path")).as("__df"), col("pos").cast("long").as("__dp"))
      rows = rows.join(dead,
        key(col("__file")) === col("__df") && col("__pos") === col("__dp"),
        "left_anti")
    }
    if (st.dvRefs.nonEmpty) {
      // v3 deletion vectors: dead positions decoded in executors through
      // the reader's own machinery, anti-joined the same way
      val tasks = st.dvRefs.map { case (refd, pf, off, size, _) =>
        graft.sources.DeletionVectors.Task(
          graft.sources.PathKeys.key(refd), "p", "", pf, off,
          (size - 8).toInt, "puffin") // blob = 4B len + payload + 4B crc
      }
      val dead = graft.sources.DeletionVectors.deletedRows(spark, tasks)
      rows = rows.join(dead,
        key(col("__file")) === col("__dv_file") && col("__pos") === col("__dv_pos"),
        "left_anti")
    }
    if (st.eqDeletes.nonEmpty) {
      // EQUALITY deletes: a key row kills every matching data row whose
      // file sequence is STRICTLY LOWER than the delete's (the spec's
      // sequence-visibility rule) — one null-safe anti-join per delete
      // file, the file's sequence attached via a broadcast lookup
      val nameById: Map[Int, String] = schemaFieldIds(st.meta)
        .map { case (n, id) => id -> n }.toMap
      import spark.implicits._
      val seqDf = st.dataSeqs.toSeq
        .map { case (p, s0) => (graft.sources.PathKeys.key(p), s0) }
        .toDF("__sf", "__fseq")
      rows = rows.join(broadcast(seqDf),
        key(col("__file")) === col("__sf"), "left")
      st.eqDeletes.foreach { case (delPath, ids, delSeq) =>
        if (ids.isEmpty) throw IcebergReadException(
          s"`${st.rootPath}`: equality delete file $delPath lists no " +
            "equality_ids — malformed manifest")
        val cols = ids.map(id => nameById.getOrElse(id, throw IcebergReadException(
          s"`${st.rootPath}`: equality delete field id $id is not in the " +
            "current schema")))
        val keys = spark.read.parquet(delPath)
        cols.find(c => !keys.schema.fieldNames.contains(c)).foreach { c =>
          throw IcebergReadException(
            s"`${st.rootPath}`: equality delete file $delPath lacks column " +
              s"`$c` by name — id-renamed delete files need an iceberg " +
              "connector jar")
        }
        val keysSel = keys.select(cols.map(c => col(c).as(s"__eq_$c")): _*)
        val cond = cols.map(c => col(c) <=> col(s"__eq_$c"))
          .reduce(_ && _) && col("__fseq") < lit(delSeq)
        rows = rows.join(keysSel, cond, "left_anti")
      }
      rows = rows.drop("__sf", "__fseq")
    }
    rows
  }

  private def footerRows(p: Path,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
  }

  private def footerRows(st0: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st0, conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum finally r.close()
  }

  /** The Iceberg spec mandates int64-micros timestamps in data files —
    * Spark's INT96 default is invalid Iceberg AND carries no usable footer
    * statistics (parquet deprecated INT96 ordering), so bounds would go
    * missing too. Pin the output type for the duration of a write even on
    * externally built sessions. (Session-conf flip: writes from concurrent
    * threads of the SAME session during this window would also produce
    * micros — a strict improvement, never corruption.) */
  private[catalog] def withMicrosTimestamps[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = try spark.conf.get(key) catch { case _: Exception => null }
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try body
    finally if (prev == null) spark.conf.unset(key) else spark.conf.set(key, prev)
  }

  /** Distributed parquet write of `df` → parts moved under `data/` with
    * `prefix`, returning (rel, size, footer rows) per file. Zero-row parts
    * are never moved, so an empty frame leaves the table untouched and
    * returns Nil. */
  private def writeMoved(df: DataFrame, st: MorState,
      prefix: String): Seq[(String, Long, Long)] = {
    val fs = st.fs
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val tmp = new Path(st.rootPath, s"_graft_tmp_$prefix")
    withMicrosTimestamps(df.sparkSession) { df.write.parquet(tmp.toString) }
    try {
      val parts = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(tmp, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) parts += f
      }
      // parallel per-file finalize (ParallelFiles; input-order results)
      ParallelFiles.mapOrdered(parts.result()) { f =>
        val rows = footerRows(f, conf)
        if (rows > 0) {
          val name = s"$prefix-${f.getPath.getName}"
          val dest = new Path(new Path(st.rootPath, "data"), name)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(f.getPath, dest))
            throw IcebergReadException(s"failed to move ${f.getPath} to $dest")
          Some((s"data/$name", f.getLen, rows))
        } else None
      }.flatten
    } finally fs.delete(tmp, true)
  }

  /** `writeMoved` with the table's parquet FIELD IDS attached (appended
    * data files must resolve by id like the create/append path's). On a
    * PARTITIONED table the append fans out by the spec's transforms —
    * the same one-tuple-per-file arrangement as the create/append path —
    * so merge-on-read UPDATE/MERGE images, compaction survivors and DV
    * update images land with correct r102 tuples instead of rejecting. */
  private def writeMorData(df: DataFrame, st: MorState,
      prefix: String): Seq[MorDataFile] = {
    val ids = schemaFieldIds(st.meta)
    // materialized row-lineage columns ride along under their RESERVED
    // field ids (spec "Reserved Field IDs") when the caller supplies them
    val lineageIds: Seq[(String, Long)] = Seq(
      RowIdColName -> RowIdFieldId, LastSeqColName -> LastSeqFieldId)
      .filter { case (n, _) => df.schema.fieldNames.contains(n) }
    val writeDf = df.select(ids.map { case (n, id) =>
      org.apache.spark.sql.functions.col(n).as(n,
        new MetadataBuilder().putLong("parquet.field.id", id.toLong).build())
    } ++ lineageIds.map { case (n, id) =>
      org.apache.spark.sql.functions.col(n).cast("long").as(n,
        new MetadataBuilder().putLong("parquet.field.id", id).build())
    }: _*)
    val partFields = morPartFields(st.meta)
    val statFields: Seq[(StructField, Int)] =
      ids.flatMap { case (n, id) =>
        writeDf.schema.fields.find(_.name == n).map(f => (f, id)) }
    if (partFields.isEmpty) {
      val conf0 = df.sparkSession.sessionState.newHadoopConf()
      return ParallelFiles.mapOrdered(writeMoved(writeDf, st, prefix)) {
        case (rel, size, rows) =>
          val (_, lb, ub, nvc) =
            footerInfo(new Path(st.rootPath, rel), conf0, statFields)
          MorDataFile(rel, size, rows, Nil, lb, ub, nvc)
      }
    }
    val fan0 = partFields.zipWithIndex.foldLeft(writeDf) { case (d, (pf, i)) =>
      d.withColumn(s"__gpk$i", transformCol(df.schema, pf).cast("string"))
    }
    // hash-distribute by tuple before the fanout — same rationale as the
    // append path (one file per tuple, not per task × tuple); width pinned
    // so AQE cannot coalesce the fanout to one serial writer task
    val fan = fan0.repartition(
      math.max(df.sparkSession.sessionState.conf.numShufflePartitions,
        df.sparkSession.sparkContext.defaultParallelism),
      partFields.indices
        .map(i => org.apache.spark.sql.functions.col(s"__gpk$i")): _*)
    val fs = st.fs
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val tmp = new Path(st.rootPath, s"_graft_tmp_$prefix")
    withMicrosTimestamps(df.sparkSession) {
      fan.write.partitionBy(partFields.indices.map(i => s"__gpk$i"): _*)
        .parquet(tmp.toString)
    }
    try {
      val parts = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(tmp, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) parts += f
      }
      // parallel per-file finalize; ONE footer read per file supplies both
      // the row count and the column bounds (was footerRows + footerInfo —
      // two opens of every file)
      ParallelFiles.mapOrdered(parts.result().zipWithIndex) { case (f, idx) =>
        val (rows, lb, ub, nvc) = footerInfo(f, conf, statFields)
        if (rows > 0) {
          val tuple = parseTuple(f.getPath, partFields)
          val name = s"$prefix-p$idx-${f.getPath.getName}"
          val dest = new Path(new Path(st.rootPath, "data"), name)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(f.getPath, dest))
            throw IcebergReadException(s"failed to move ${f.getPath} to $dest")
          Some(MorDataFile(s"data/$name", f.getLen, rows, tuple, lb, ub, nvc))
        } else None
      }.flatten
    } finally fs.delete(tmp, true)
  }

  /** One puffin deletion-vector manifest entry: (relPath, fileSize,
    * cardinality, blobOffset, blobSize, referencedDataFile). */
  private[catalog] final case class DvEntry(rel: String, fileSize: Long,
    cardinality: Long, blobOffset: Long, blobSize: Long, referencedDataFile: String)

  /** One merge-on-read commit: optional positional-delete manifest +
    * optional appended-data manifest joined to the carried-forward list,
    * one new snapshot at the next sequence number, one new metadata.json
    * version. Files are (rel, size, rows). */
  private def commitMor(st: MorState, operation: String,
      summaryExtra: Seq[(String, String)],
      deleteFiles: Seq[(String, Long, Long)],
      dataFiles: Seq[MorDataFile],
      carryPrev: Boolean = true,
      dvEntries: Seq[DvEntry] = Nil,
      eqDeleteFiles: Seq[(String, Long, Long)] = Nil,
      equalityIds: Seq[Int] = Nil,
      // replaces the carried-forward manifest set (rel/abs path, its
      // ORIGINAL sequence number) — the metadata-only delete's rewritten
      // manifests enter here so entry-seq inheritance stays correct
      carriedOverride: Option[Seq[(String, Long)]] = None): Unit = {
    val fs = st.fs
    val snapshotId = st.lastSnapshotId + 1
    val seq = st.lastSeq + 1
    val nowMs = System.currentTimeMillis()
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // appended data files on a partitioned table carry their r102 tuple;
    // DELETE-side entries (positional, DV, equality) use the SAME
    // partition-aware entry schema — spec readers expect every manifest
    // entry's data_file.partition to match the spec's partition type.
    // A DV's tuple is its referenced data file's, echoed from the live
    // manifests (st.dataTuples); a positional/equality delete file spans
    // partitions, so its partition record stays null (correct record
    // schema, no tuple).
    val partFields = morPartFields(st.meta)
    val (dataDfSch, dataESch) = manifestSchemasFor(partFields)
    val dataPartSchema: Option[org.apache.avro.Schema] =
      if (partFields.isEmpty) None
      else Some(dataDfSch.getField("partition").schema().getTypes.get(1))
    def tupleRecordOf(relPath: String): AnyRef =
      dataPartSchema.flatMap { prs =>
        val p0 = new Path(relPath)
        val absKey = (if (p0.isAbsolute) p0 else new Path(st.rootPath, p0)).toString
        st.dataTuples.get(absKey).map { vals =>
          val pr = new GenericData.Record(prs)
          partFields.foreach(p => pr.put(p.name, vals.getOrElse(p.name, null)))
          pr
        }
      }.orNull
    def entries(files: Seq[(String, Long, Long)], content: Option[Int]) =
      files.map { case (rel, size, rows) =>
        val d = new GenericData.Record(dataDfSch)
        d.put("content", content.map(Int.box).orNull)
        d.put("file_path", rel)
        d.put("file_format", "PARQUET")
        d.put("record_count", rows)
        d.put("file_size_in_bytes", Long.box(size))
        if (dataPartSchema.nonEmpty) d.put("partition", tupleRecordOf(rel))
        val e = new GenericData.Record(dataESch)
        e.put("status", 1) // ADDED
        e.put("sequence_number", Long.box(seq))
        e.put("data_file", d)
        e
      }
    // v3 row lineage: every added data file gets an explicit,
    // non-overlapping first_row_id block starting at the table's
    // next-row-id; the snapshot and metadata advance below
    val lineageBase: Long = st.nextRowId.getOrElse(0L)
    var lineageNext: Long = lineageBase
    def dataEntries(files: Seq[MorDataFile]) =
      files.map { f =>
        val d = new GenericData.Record(dataDfSch)
        d.put("content", null)
        d.put("file_path", f.rel)
        d.put("file_format", "PARQUET")
        if (st.hasLineage) {
          d.put("first_row_id", Long.box(lineageNext))
          lineageNext += f.rows
        }
        d.put("record_count", f.rows)
        d.put("file_size_in_bytes", Long.box(f.size))
        dataPartSchema.foreach { prs =>
          val pr = new GenericData.Record(prs)
          partFields.zip(f.tuple).foreach { case (p, v) => pr.put(p.name, v) }
          d.put("partition", pr)
        }
        if (!f.lower.isEmpty) d.put("lower_bounds", f.lower)
        if (!f.upper.isEmpty) d.put("upper_bounds", f.upper)
        if (!f.nullCounts.isEmpty) d.put("null_value_counts", f.nullCounts)
        val e = new GenericData.Record(dataESch)
        e.put("status", 1) // ADDED
        e.put("sequence_number", Long.box(seq))
        e.put("data_file", d)
        e
      }
    val dvRecords = dvEntries.map { dv =>
      val d = new GenericData.Record(dataDfSch)
      d.put("content", Int.box(1))
      d.put("file_path", dv.rel)
      d.put("file_format", "PUFFIN")
      d.put("record_count", dv.cardinality)
      d.put("file_size_in_bytes", Long.box(dv.fileSize))
      d.put("content_offset", Long.box(dv.blobOffset))
      d.put("content_size_in_bytes", Long.box(dv.blobSize))
      d.put("referenced_data_file", dv.referencedDataFile)
      // a DV is scoped to ONE data file — its partition tuple is that
      // file's, recoverable from the fanout path
      if (dataPartSchema.nonEmpty)
        d.put("partition", tupleRecordOf(dv.referencedDataFile))
      val e = new GenericData.Record(dataESch)
      e.put("status", 1)
      e.put("sequence_number", Long.box(seq))
      e.put("data_file", d)
      e
    }
    // equality-delete entries (content=2): the delete file holds the KEY
    // columns; equality_ids names the table field ids rows must match on
    val eqRecords = eqDeleteFiles.map { case (rel, size, rows) =>
      val d = new GenericData.Record(dataDfSch)
      d.put("content", Int.box(2))
      d.put("file_path", rel)
      d.put("file_format", "PARQUET")
      d.put("record_count", rows)
      d.put("file_size_in_bytes", Long.box(size))
      d.put("equality_ids",
        new java.util.ArrayList[Integer](equalityIds.map(Int.box).asJava))
      val e = new GenericData.Record(dataESch)
      e.put("status", 1)
      e.put("sequence_number", Long.box(seq))
      e.put("data_file", d)
      e
    }
    val newManifests = Seq.newBuilder[(String, Option[Int])]
    if (deleteFiles.nonEmpty || dvRecords.nonEmpty || eqRecords.nonEmpty) {
      val rel = s"metadata/m-del-$snapshotId-$stamp.avro"
      writeAvroAt(fs, st.rootPath, rel, dataESch,
        entries(deleteFiles, Some(1)) ++ dvRecords ++ eqRecords)
      newManifests += ((rel, Some(1)))
    }
    if (dataFiles.nonEmpty) {
      val rel = s"metadata/m-$snapshotId-$stamp.avro"
      writeAvroAt(fs, st.rootPath, rel, dataESch, dataEntries(dataFiles))
      newManifests += ((rel, None))
    }
    val mlRel = s"metadata/ml-$snapshotId-$stamp.avro"
    val carried = carriedOverride match {
      case Some(ms) => ms.map { case (p, sq) => (p, sq, None: Option[Int]) }
      case None =>
        if (carryPrev) st.manifests.map(m => (m.path, m.seq, None: Option[Int]))
        else Nil
    }
    writeAvroAt(fs, st.rootPath, mlRel, listSchema,
      (carried ++ newManifests.result().map { case (p, c) => (p, seq, c) })
        .map { case (p, sq, c) =>
          val r = new GenericData.Record(listSchema)
          r.put("manifest_path", p)
          r.put("content", c.map(Int.box).orNull)
          r.put("sequence_number", Long.box(sq))
          r
        })
    val snapshotNode = {
      val sn = mapper.createObjectNode()
      sn.put("snapshot-id", snapshotId)
      if (st.lastSnapshotId > 0) sn.put("parent-snapshot-id", st.lastSnapshotId)
      sn.put("sequence-number", seq)
      sn.put("timestamp-ms", nowMs)
      sn.put("schema-id", st.meta.path("current-schema-id").asInt(0))
      if (st.hasLineage) sn.put("first-row-id", lineageBase)
      val summary = sn.putObject("summary")
      summary.put("operation", operation)
      if (dataFiles.nonEmpty) {
        summary.put("added-data-files", dataFiles.size.toString)
        summary.put("added-records", dataFiles.map(_.rows).sum.toString)
        summary.put("added-files-size", dataFiles.map(_.size).sum.toString)
      }
      // a commit can carry positional + equality delete files AND DVs at
      // once — sum each metric's contributions into ONE put (a second put
      // on the same key overwrites, understating counts to external tools)
      if (deleteFiles.nonEmpty || eqDeleteFiles.nonEmpty)
        summary.put("added-delete-files",
          (deleteFiles.size + eqDeleteFiles.size).toString)
      val posDeletes = deleteFiles.map(_._3).sum + dvEntries.map(_.cardinality).sum
      if (deleteFiles.nonEmpty || dvEntries.nonEmpty)
        summary.put("added-position-deletes", posDeletes.toString)
      if (eqDeleteFiles.nonEmpty)
        summary.put("added-equality-deletes", eqDeleteFiles.map(_._3).sum.toString)
      summaryExtra.foreach { case (k, v2) => summary.put(k, v2) }
      sn.put("manifest-list", mlRel)
      sn
    }
    val newMeta = st.meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    // deletion vectors are a format-v3 feature — declare it honestly
    if (dvEntries.nonEmpty && newMeta.path("format-version").asInt(2) < 3)
      newMeta.put("format-version", 3)
    // row lineage: advance next-row-id past every block assigned above
    if (st.hasLineage) newMeta.put("next-row-id", lineageNext)
    newMeta.put("last-updated-ms", nowMs)
    newMeta.put("last-sequence-number", seq)
    newMeta.put("current-snapshot-id", snapshotId)
    newMeta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshots").add(snapshotNode)
    logEntry(newMeta, snapshotId, nowMs)
    // refs ride the deep copy verbatim (tags/branches stay pinned);
    // `main` is the live branch and advances with the commit (spec v2)
    locally {
      val refsNode =
        if (newMeta.has("refs"))
          newMeta.path("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else newMeta.putObject("refs")
      val mainRef = refsNode.putObject("main")
      mainRef.put("snapshot-id", snapshotId)
      mainRef.put("type", "branch")
    }
    IcebergLog.commit(st.snap, newMeta)
  }

  /** DELETE FROM — MERGE-ON-READ row-level deletion (the Iceberg v2
    * arrangement, the OTHER industry strategy to Delta's copy-on-write):
    * matching rows become POSITIONAL DELETE FILES — parquet of
    * `(file_path, pos)` per the spec — referenced by a delete manifest in
    * a new snapshot at a HIGHER sequence number, so readers (including
    * this library's native reader) anti-join the dead positions without
    * any data file rewriting. One pruned scan finds the positions via
    * `_metadata.row_index`; no data moves at all — the write is
    * O(deleted rows). Returns rows deleted (0 = no new snapshot). */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val st = loadMorState(spark, path)
    if (st.dataPaths.isEmpty) return 0L
    rejectOnDvs(path, st, "DELETE")
    metadataOnlyDelete(spark, st, path, predicateSql).foreach(n => return n)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val matches = liveRows(spark, st).filter(expr(predicateSql))
      .select(col("__file").as("file_path"), col("__pos").as("pos"))
    val delFiles = writeMoved(matches, st, s"del-$stamp")
    val deleted = delFiles.map(_._3).sum
    if (deleted == 0L) return 0L
    commitMor(st, "delete", Seq("graft-predicate" -> predicateSql), delFiles, Nil)
    deleted
  }

  /** EQUALITY DELETE — the Flink-CDC delete shape (spec "Equality Delete
    * Files"): ONE parquet delete file holding the KEY columns (written
    * with the table's field ids), referenced by a content=2 manifest entry
    * whose `equality_ids` names those fields; it kills every matching row
    * in data files at a STRICTLY LOWER sequence, evaluated by the native
    * reader AND by this writer's own row-level ops/compaction
    * (liveRows anti-joins it with the sequence-visibility rule). No data
    * scanned, no rows rewritten — O(keys), the cheapest delete there is.
    * Float/double keys reject (NaN equality is undefined skipping fuel);
    * partitioned tables reject (global eq deletes need an unpartitioned
    * delete spec — connector-jar territory). Returns the key-row count. */
  /** DELETE whose predicate references ONLY identity-partition source
    * columns is METADATA-ONLY (the iceberg-core "delete by partition" fast
    * path, THE retention lever at 100 TB — `WHERE ds < '2026-01-01'` on a
    * day-partitioned corpus drops whole files without moving a byte):
    * every row in a file shares the file's tuple, so the predicate decides
    * per FILE. Affected manifests rewrite with dropped entries marked
    * DELETED (original per-entry sequence numbers made explicit, kept
    * entries EXISTING — bounds/stats copied verbatim, skipping unchanged);
    * unaffected manifests carry as-is. Returns None — falling back to the
    * positional-delete path — when the predicate touches data columns,
    * any row-level delete already exists (counts would lie), or a tuple
    * type has no driver-side decoding. */
  /** The live data files whose IDENTITY partition tuples satisfy `pred` —
    * or None when the predicate is not tuple-decidable (touches data
    * columns, non-identity transforms, undecodable types). */
  private def partitionMatchedFiles(spark: org.apache.spark.sql.SparkSession,
      st: MorState, predicateSql: String): Option[Set[String]] = {
    import org.apache.spark.sql.functions.{col, expr}
    val idFields = morPartFields(st.meta).filter(_.transform == "identity")
    if (idFields.isEmpty) return None
    val refs: Seq[String] =
      try spark.sessionState.sqlParser.parseExpression(predicateSql).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          if (u.nameParts.length != 1) return None
          u.nameParts.head
      }
      catch { case _: Exception => return None }
    if (refs.isEmpty ||
        !refs.forall(r => idFields.exists(_.srcCol.equalsIgnoreCase(r))))
      return None
    def decode(v: AnyRef, dt: DataType): Option[Any] = (dt, v) match {
      case (_, null) => Some(null)
      case (IntegerType, n: Number) => Some(n.intValue())
      case (LongType, n: Number) => Some(n.longValue())
      case (StringType, x) => Some(x.toString)
      case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
      case (DateType, n: Number) =>
        Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(n.longValue())))
      case (TimestampType, n: Number) =>
        val micros = n.longValue()
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        Some(ts)
      case _ => None
    }
    val rowSchema = StructType(
      StructField("__file", StringType, nullable = false) +:
        idFields.map(f => StructField(f.srcCol, f.resultType)))
    val rows: Seq[org.apache.spark.sql.Row] = st.dataPaths.map { p =>
      val tuple = st.dataTuples.getOrElse(p, return None)
      val vals = idFields.map { f =>
        // A field ABSENT from the tuple is NOT a null value: after ADD
        // PARTITION FIELD, pre-evolution files' manifest tuples lack the
        // new field entirely, and treating that as null would make a
        // metadata-only DELETE silently skip files whose ROWS may match.
        // Missing field → not tuple-decidable → row-level fallback.
        if (!tuple.contains(f.name)) return None
        decode(tuple(f.name), f.resultType).getOrElse(return None)
      }
      org.apache.spark.sql.Row.fromSeq(p +: vals)
    }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), rowSchema)
      .filter(expr(predicateSql)).select(col("__file"))
      .collect().map(_.getString(0)).toSet)
  }

  /** Rewrite every manifest holding an entry that satisfies `dropIf` with
    * those entries marked DELETED (kept entries EXISTING, per-entry
    * sequence numbers made explicit); unaffected manifests pass through
    * verbatim. Returns the replacement carried-manifest list for
    * commitMor. Replaced DV entries match by referenced_data_file, not by
    * container path: several blobs may share one puffin file in foreign
    * layouts. */
  private def rewriteManifestsDroppingIf(st: MorState, dropIf: IcebergLog.Entry => Boolean,
      tag: String): Seq[(String, Long)] = {
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    var i = 0
    st.manifests.map { m =>
      val entries = st.snap.entries(m)
      if (!entries.exists(dropIf)) (m.path, m.seq)
      else {
        val sch = entries.head.raw.getSchema
        val hasSeqField = sch.getField("sequence_number") != null
        entries.foreach { e =>
          if (hasSeqField && e.raw.get("sequence_number") == null)
            e.raw.put("sequence_number", Long.box(m.seq)) // make inheritance explicit
          if (dropIf(e) && e.live) e.raw.put("status", 2) // DELETED
          else if (e.status == 1) e.raw.put("status", 0) // ADDED → EXISTING
        }
        i += 1
        val rel = s"metadata/m-$tag-${st.lastSnapshotId + 1}-$stamp-$i.avro"
        writeAvroAt(st.fs, st.rootPath, rel, sch, entries.map(_.raw))
        (rel, m.seq)
      }
    }
  }

  /** Shared DV-merge plumbing for the v3 DV DML paths: new matches union
    * the AFFECTED files' existing dead positions (a DV REPLACES its
    * predecessor, never stacks), and the replaced DV entries leave the
    * carried manifests. Returns (mergedMatches, carriedOverride,
    * carriedOldCardinality). */
  private def mergeDvMatches(spark: org.apache.spark.sql.SparkSession,
      st: MorState, matches0: DataFrame)
      : (DataFrame, Seq[DvEntry] => Option[Seq[(String, Long)]], Seq[DvEntry] => Long) = {
    import org.apache.spark.sql.functions.col
    if (st.dvRefs.isEmpty)
      return (matches0, _ => None, _ => 0L)
    val key = graft.sources.PathKeys.keyCol _
    val tasks = st.dvRefs.map { case (refd, pf, off, size, _) =>
      graft.sources.DeletionVectors.Task(
        graft.sources.PathKeys.key(refd), "p", "", pf, off,
        (size - 8).toInt, "puffin")
    }
    val dead = graft.sources.DeletionVectors.deletedRows(spark, tasks)
    val affected = matches0.select(col("__file"),
      key(col("__file")).as("__afk")).distinct()
    val carried = dead.join(affected, col("__dv_file") === col("__afk"))
      .select(col("__file"), col("__dv_pos").as("__pos"))
    val merged = matches0.unionByName(carried)
    def absOf(rel: String): String = st.snap.resolve(rel).toString
    val oldCardByRef: Map[String, Long] = st.dvRefs
      .map { case (refd, _, _, _, card) => graft.sources.PathKeys.key(refd) -> card }.toMap
    def replacedRefs(dvEntries: Seq[DvEntry]): Set[String] =
      dvEntries.map(e => graft.sources.PathKeys.key(absOf(e.referencedDataFile)))
        .toSet.intersect(oldCardByRef.keySet)
    val carriedOverrideFor: Seq[DvEntry] => Option[Seq[(String, Long)]] = { dvEntries =>
      val refs = replacedRefs(dvEntries)
      if (refs.isEmpty) None
      else Some(rewriteManifestsDroppingIf(st, e =>
        e.content == 1 && e.format.equalsIgnoreCase("PUFFIN") &&
          IcebergLog.field(e.file, "referenced_data_file").exists(r =>
            refs.contains(graft.sources.PathKeys.key(absOf(r.toString)))), "dvm"))
    }
    val carriedOldFor: Seq[DvEntry] => Long = { dvEntries =>
      replacedRefs(dvEntries).toSeq.map(oldCardByRef).sum
    }
    (merged, carriedOverrideFor, carriedOldFor)
  }

  private def metadataOnlyDelete(spark: org.apache.spark.sql.SparkSession,
      st: MorState, path: String, predicateSql: String): Option[Long] = {
    if (st.priorDeleteFiles.nonEmpty || st.dvRefs.nonEmpty || st.hasEqDeletes)
      return None
    val dropped = partitionMatchedFiles(spark, st, predicateSql).getOrElse(return None)
    if (dropped.isEmpty) return Some(0L)
    val deletedRows = dropped.toSeq.map(st.dataRowCounts.getOrElse(_, return None)).sum
    val newCarried = rewriteManifestsDroppingIf(st, e => dropped.contains(e.path), "pdel")
    commitMor(st, "delete",
      Seq("graft-predicate" -> predicateSql,
        "graft-strategy" -> "metadata-only-partition-drop"),
      Nil, Nil, carriedOverride = Some(newCarried))
    Some(deletedRows)
  }

  def equalityDelete(spark: org.apache.spark.sql.SparkSession, path: String,
      keys: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val st = loadMorState(spark, path)
    if (st.dataPaths.isEmpty) return 0L
    // Partitioned tables work: the delete entry rides the partition-aware
    // manifest schema with a NULL partition record — the global scope (a
    // key's old image may live in ANY partition), which both this library's
    // reader and the writer's own liveRows evaluate partition-agnostically.
    val idByName = schemaFieldIds(st.meta).toMap
    keys.schema.fields.foreach { f =>
      if (!idByName.contains(f.name)) throw IcebergReadException(
        s"`$path`: equality-delete column `${f.name}` is not in the table schema")
      f.dataType match {
        case FloatType | DoubleType => throw IcebergReadException(
          s"`$path`: equality-delete key `${f.name}` is ${f.dataType.simpleString} " +
            "— float equality (NaN) is undefined; use an exact-typed key")
        case _ => ()
      }
    }
    val eqIds = keys.schema.fields.map(f => idByName(f.name)).toSeq
    val keyDf = keys.dropDuplicates().select(keys.schema.fields.map { f =>
      col(f.name).as(f.name, new MetadataBuilder()
        .putLong("parquet.field.id", idByName(f.name).toLong).build())
    }.toSeq: _*)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val files = writeMoved(keyDf, st, s"eqdel-$stamp")
    val n = files.map(_._3).sum
    if (n == 0L) return 0L
    commitMor(st, "delete",
      Seq("graft-equality-ids" -> eqIds.mkString(",")),
      Nil, Nil, eqDeleteFiles = files, equalityIds = eqIds)
    n
  }

  /** UPSERT — the Flink/CDC writer arrangement: ONE snapshot carrying an
    * equality delete on `keyCols` (killing the old images, which sit at
    * strictly lower sequences) AND the new rows as appended data files
    * (same sequence as the delete, so the delete cannot touch them — the
    * spec's strictly-lower rule makes same-commit upserts safe by
    * construction). Returns (keysDeleted, rowsInserted). */
  def upsert(spark: org.apache.spark.sql.SparkSession, path: String,
      rows: DataFrame, keyCols0: Seq[String] = Nil,
      txn: Option[(String, Long)] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val st = loadMorState(spark, path)
    // empty keyCols → the table's DECLARED row identity (the spec's
    // identifier-field-ids) — the create-time `identifier_fields` option
    val keyCols: Seq[String] =
      if (keyCols0.nonEmpty) keyCols0
      else {
        val sch = st.snap.currentSchema
        val byId = sch.path("fields").elements().asScala
          .map(f => f.path("id").asInt() -> f.path("name").asText()).toMap
        val ids = sch.path("identifier-field-ids").elements().asScala
          .map(_.asInt()).toSeq
        if (ids.isEmpty) throw IcebergReadException(
          s"`$path`: upsert needs key columns — pass them explicitly or " +
            "create the table with identifier_fields=...")
        ids.map(byId)
      }
    // exactly-once for streaming micro-batch replays: same ledger as write()
    txn.foreach { case (appId, v) => if (st.snap.committedBatch(appId) >= v) return (0L, 0L) }
    // Partitioned tables work: the new rows fan out per the spec's
    // transforms (writeMorData), and the equality delete rides a NULL
    // partition record = GLOBAL scope — correct for upsert, where a key's
    // previous image may sit in a DIFFERENT partition than its new row
    // (partition-scoped deletes would miss the move).
    val names = schemaFieldIds(st.meta).map(_._1)
    names.find(c => !rows.schema.fieldNames.contains(c)).foreach { c =>
      throw IcebergReadException(
        s"`$path`: upsert rows lack table column `$c` (the full row inserts)")
    }
    keyCols.find(c => !names.contains(c)).foreach { c =>
      throw IcebergReadException(
        s"`$path`: upsert key `$c` is not in the table schema")
    }
    val idByName = schemaFieldIds(st.meta).toMap
    keyCols.foreach { c =>
      rows.schema(rows.schema.fieldIndex(c)).dataType match {
        case FloatType | DoubleType => throw IcebergReadException(
          s"`$path`: upsert key `$c` is float-typed — NaN equality is undefined")
        case _ => ()
      }
    }
    val eqIds = keyCols.map(idByName)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // Duplicate keys WITHIN the batch land at the same sequence as the
    // equality delete, which (spec: strictly-lower rule) cannot touch them —
    // they'd survive as duplicate rows. Keep the LAST row per key first,
    // matching upsertDeltaStream's semantics. "Last" = highest
    // monotonically_increasing_id: exact arrival order within a partition;
    // across partitions it is partition-index order (documented caveat —
    // pass a single-partition batch or pre-aggregate upstream when
    // cross-partition arrival order matters).
    val dedupedRows = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{monotonically_increasing_id, row_number}
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("__graft_seq").desc)
      rows.withColumn("__graft_seq", monotonically_increasing_id())
        .withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") === 1)
        .drop("__graft_seq", "__graft_rn")
    }
    val keyDf = dedupedRows.select(keyCols.map(col): _*).dropDuplicates()
      .select(keyCols.map { c =>
        col(c).as(c, new MetadataBuilder()
          .putLong("parquet.field.id", idByName(c).toLong).build())
      }: _*)
    // the delete file and the data file are independent writes into
    // disjoint temp dirs: run them concurrently, the micros-timestamp pin
    // held across both so their nested pins cannot race each other
    val (eqFiles, dataFiles) = withMicrosTimestamps(spark) {
      ParallelFiles.both(
        if (st.dataPaths.isEmpty) Nil // nothing older to kill
        else writeMoved(keyDf, st, s"eqdel-$stamp"),
        writeMorData(dedupedRows.select(names.map(col): _*), st, s"ups-$stamp"))
    }
    val inserted = dataFiles.map(_.rows).sum
    if (inserted == 0L && eqFiles.isEmpty) return (0L, 0L)
    commitMor(st, "overwrite",
      Seq("graft-upsert-keys" -> keyCols.mkString(",")) ++
        txn.toSeq.flatMap { case (appId, v) =>
          Seq("graft-app-id" -> appId, "graft-batch-version" -> v.toString)
        },
      Nil, dataFiles, eqDeleteFiles = eqFiles, equalityIds = eqIds)
    (eqFiles.map(_._3).sum, inserted)
  }

  /** DELETE via format-v3 DELETION VECTORS (puffin): matched physical row
    * positions per data file serialize to a roaring bitmap (the same
    * codec the native reader decodes for l05) inside a PUFFIN container
    * written BY EXECUTORS — `PFA1` magic, the `deletion-vector-v1` blob
    * (4-byte BE length, bitmap, CRC-32), and a spec-shaped footer — and
    * the delete manifest carries `content_offset`/`content_size_in_bytes`
    * /`referenced_data_file` so readers locate the blob without a footer
    * parse. One snapshot, no data rewritten, O(matched rows); the commit
    * bumps `format-version` to 3 (DVs are a v3 feature). The driver sees
    * one descriptor row per affected file.
    *
    * Rejects tables already carrying row-level delete files: the spec
    * says a DV REPLACES a file's whole delete state, so layering one over
    * live positional deletes without subsuming them would resurrect rows
    * — compact first (`rewriteDataFiles`). */
  def deleteWhereDv(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.sources.DeletionVectors
    val st = loadMorState(spark, path)
    if (st.dataPaths.isEmpty) return 0L
    if (st.priorDeleteFiles.nonEmpty || st.hasEqDeletes) throw IcebergReadException(
      s"`$path`: table carries positional/equality delete FILES — a deletion " +
        "vector REPLACES a file's delete state (spec), so writing one now " +
        "without subsuming them would resurrect rows; compact first " +
        "(rewriteDataFiles applies existing deletes), then delete again")
    // EXISTING DVs merge (v3 replacement rule): liveRows already excludes
    // their dead positions from matching, mergeDvMatches unions them into
    // the replacement vectors and retires the replaced manifest entries
    val matches0 = liveRows(spark, st).filter(expr(predicateSql))
      .select(col("__file"), col("__pos"))
    val (matches, carriedFor, carriedOldFor) = mergeDvMatches(spark, st, matches0)
    val dvEntries = writePuffinDvs(spark, st, matches)
    if (dvEntries.isEmpty) return 0L
    commitMor(st, "delete", Seq("graft-predicate" -> predicateSql,
      "graft-strategy" -> "deletion-vector"), Nil, Nil, dvEntries = dvEntries,
      carriedOverride = carriedFor(dvEntries))
    dvEntries.map(_.cardinality).sum - carriedOldFor(dvEntries)
  }

  /** UPDATE via format-v3 DELETION VECTORS: matched rows' old positions go
    * dead through per-file puffin DVs and their SET-transformed images
    * append as new data files in ONE snapshot — the v3 sibling of the
    * positional-delete UPDATE and the mirror of `DeltaSink.updateWhereDv`.
    * Same gates as the DV delete. */
  def updateWhereDv(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, sets: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    require(sets.nonEmpty, "updateWhereDv needs at least one SET expression")
    val st = loadMorState(spark, path)
    if (st.dataPaths.isEmpty) return 0L
    if (st.priorDeleteFiles.nonEmpty || st.hasEqDeletes) throw IcebergReadException(
      s"`$path`: table carries positional/equality delete FILES — a deletion " +
        "vector REPLACES a file's delete state (spec); compact first " +
        "(rewriteDataFiles), then update again")
    val names = schemaFieldIds(st.meta).map(_._1)
    sets.keys.find(k => !names.contains(k)).foreach { k =>
      throw IcebergReadException(
        s"`$path`: SET column `$k` is not in the table schema")
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val rows = liveRows(spark, st)
    // statement-lifetime pin: `matches` feeds BOTH the puffin-DV pass and
    // the post-SET image write — unpinned, each re-ran the live-rows scan
    // and the predicate (guide §1.2)
    val matches = rows.filter(expr(predicateSql))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (mergedPos, carriedFor, carriedOldFor) = mergeDvMatches(spark, st,
        matches.select(col("__file"), col("__pos")))
      val dataCols = rows.schema.fields
        .filterNot(f => f.name == "__file" || f.name == "__pos").toSeq
      val updatedRows = matches.select(dataCols.map { f =>
        sets.get(f.name).map(e => expr(e).cast(f.dataType))
          .getOrElse(col(f.name)).as(f.name)
      }: _*)
      // the DV pass and the image write are independent consumers of the
      // pinned matches — run them CONCURRENTLY (guide §2.6); the commit
      // still sees both results in the serial order. Zero matches ⇒ both
      // produce nothing ⇒ no commit, exactly as before.
      val (dvEntries, dataFiles) = withMicrosTimestamps(spark) {
        ParallelFiles.both(writePuffinDvs(spark, st, mergedPos),
          writeMorData(updatedRows, st, s"updv-$stamp"))
      }
      if (dvEntries.isEmpty) return 0L
      commitMor(st, "overwrite", Seq("graft-predicate" -> predicateSql,
        "graft-strategy" -> "deletion-vector"), Nil, dataFiles,
        dvEntries = dvEntries, carriedOverride = carriedFor(dvEntries))
      dvEntries.map(_.cardinality).sum - carriedOldFor(dvEntries)
    } finally matches.unpersist(blocking = false)
  }

  /** Executor-side puffin DV writer shared by the DV DELETE and UPDATE:
    * one puffin container per affected data file (PFA1, deletion-vector-v1
    * blob, spec footer), one DvEntry per file back to the driver. */
  private def writePuffinDvs(spark: org.apache.spark.sql.SparkSession,
      st: MorState, matched: DataFrame): Seq[DvEntry] = {
    import graft.sources.DeletionVectors
    val confEntries: Seq[(String, String)] =
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    val confBc = spark.sparkContext.broadcast(confEntries)
    val rootStr = st.rootPath.toString
    import spark.implicits._
    val entries: Seq[(String, String, Long, Long, Long, Long)] =
      matched.as[(String, Long)].groupByKey(_._1).mapGroups { (file, it) =>
        val positions = it.map(_._2).toArray.toSeq
        val bytes = DeletionVectors.RoaringBitmapArray.serialize(positions)
        val c = new org.apache.hadoop.conf.Configuration(false)
        confBc.value.foreach { case (k, v) => c.set(k, v) }
        val rel = s"data/dv-${java.util.UUID.randomUUID()}.puffin"
        val p = new Path(rootStr, rel)
        val out = p.getFileSystem(c).create(p, false)
        val magic = "PFA1".getBytes("UTF-8")
        try {
          out.write(magic) // header
          out.writeInt(bytes.length) // blob: BE length, bitmap, BE CRC-32
          out.write(bytes)
          val crc = new java.util.zip.CRC32(); crc.update(bytes)
          out.writeInt(crc.getValue.toInt)
          // footer: Magic, FooterPayload, payload size (LE), flags, Magic
          val payload = (s"""{"blobs": [{"type": "deletion-vector-v1", """ +
            s""""fields": [], "offset": 4, "length": ${bytes.length + 8}, """ +
            s""""properties": {"referenced-data-file": ${mapper.writeValueAsString(file)}, """ +
            s""""cardinality": "${positions.size}"}}]}""").getBytes("UTF-8")
          out.write(magic)
          out.write(payload)
          val le = java.nio.ByteBuffer.allocate(4)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(payload.length)
          out.write(le.array())
          out.write(Array[Byte](0, 0, 0, 0)) // flags: uncompressed footer
          out.write(magic)
        } finally out.close()
        val size = p.getFileSystem(c).getFileStatus(p).getLen
        // content_size_in_bytes covers the WHOLE blob incl. the 4-byte
        // length word and CRC (the l05 convention the reader expects)
        (file, rel, size, positions.size.toLong, 4L, bytes.length + 8L)
      }.collect().toSeq
    val rootQ = st.fs.makeQualified(st.rootPath).toString
    entries.map { case (file, rel, size, card, off, blobLen) =>
      // reference the data file table-root-relative when possible (the
      // spec's portable form; the reader resolves either)
      val fq = st.fs.makeQualified(new Path(file)).toString
      val refd = if (fq.startsWith(rootQ + "/")) fq.stripPrefix(rootQ + "/") else file
      DvEntry(rel, size, card, off, blobLen, refd)
    }
  }

  /** UPDATE — merge-on-read: matched rows' positions become a positional
    * delete file and their SET-transformed images append as new data
    * files in the SAME snapshot — no data rewrites, O(changed rows), the
    * mirror strategy to `DeltaSink.updateWhere`'s copy-on-write. SET
    * expressions see the PRE-update row (the Delta writer's contract).
    * Returns rows updated (0 = no new snapshot). */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, sets: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr}
    val st = loadMorState(spark, path)
    rejectOnDvs(path, st, "UPDATE")
    if (st.dataPaths.isEmpty) return 0L
    val names = schemaFieldIds(st.meta).map(_._1)
    sets.keys.find(k => !names.contains(k)).foreach { k =>
      throw IcebergReadException(
        s"`$path`: SET column `$k` is not in the table schema")
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val rows = liveRows(spark, st, withLineage = st.hasLineage)
    val matches = rows.filter(expr(predicateSql))
    val delFiles = writeMoved(
      matches.select(col("__file").as("file_path"), col("__pos").as("pos")),
      st, s"del-$stamp")
    val updated = delFiles.map(_._3).sum
    if (updated == 0L) return 0L
    val dataCols = rows.schema.fields
      .filterNot(f => Set("__file", "__pos", "__rlid", "__rlseq")(f.name)).toSeq
    // row lineage: an updated row KEEPS its id; its last-updated sequence
    // stays null in the file so it re-defaults to the new file's sequence
    val updatedRows = matches.select(dataCols.map { f =>
      sets.get(f.name).map(e => expr(e).cast(f.dataType))
        .getOrElse(col(f.name)).as(f.name)
    } ++ (if (st.hasLineage)
      Seq(col("__rlid").as(RowIdColName),
        org.apache.spark.sql.functions.lit(null).cast("long").as(LastSeqColName))
    else Nil): _*)
    val dataFiles = writeMorData(updatedRows, st, s"upd-$stamp")
    commitMor(st, "overwrite", Seq("graft-predicate" -> predicateSql),
      delFiles, dataFiles)
    updated
  }

  /** MERGE — merge-on-read, under the clause contract of [[MergePlan]]:
    * claimed target rows' positions become positional delete files; their
    * SET-transformed images plus the inserted rows append as new data
    * files — ONE snapshot, no data rewrites. `condSql` sees the target's
    * `__file`/`__pos` too. Row lineage keeps updated rows' ids. Returns
    * (rows updated incl. by-source updates, rows inserted). */
  def mergeInto(spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, condSql: String,
      matchedClauses: Seq[MergeMatchedClause] = Nil,
      bySourceClauses: Seq[MergeMatchedClause] = Nil,
      insertClauses: Seq[MergeInsertClause] = Nil): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    val st = loadMorState(spark, path)
    rejectOnDvs(path, st, "MERGE")
    val names = schemaFieldIds(st.meta).map(_._1)
    MergePlan.run(source, condSql, matchedClauses, bySourceClauses, insertClauses,
        names, m => IcebergReadException(s"`$path`: $m")) { plan =>
      val stamp = java.util.UUID.randomUUID().toString.take(8)
      if (st.dataPaths.isEmpty) {
        // empty table: nothing matches, every insert-eligible source row
        // inserts; no data files to scan types from — the iceberg schema
        // supplies them
        val dataFiles = if (!plan.inserting) Nil
          else writeMorData(plan.insertRows(source.alias("s"),
            graft.sources.IcebergNative.toStruct(st.snap.currentSchema).fields.toSeq),
            st, s"mrg-$stamp")
        val inserted = dataFiles.map(_.rows).sum
        if (inserted > 0L)
          commitMor(st, "overwrite", Seq("graft-merge-on" -> condSql), Nil, dataFiles)
        (0L, inserted)
      } else {
        val (matched, bySource) = (plan.matched, plan.bySource)
        val live0 = liveRows(spark, st, withLineage = st.hasLineage)
        val scanFields = live0.schema.fields
          .filterNot(f => Set("__file", "__pos", "__rlid", "__rlseq")(f.name)).toSeq
        val s1 = plan.sourceRows
        val matchedPairs = plan.matchedPairs(live0, s1)
        val bsRows = plan.bySourceRows(live0, s1)
        // a target row is (file, position); inserts count from their files
        val stats = plan.stats(matchedPairs, col("t.__pos").as("__p"), bsRows,
          inserts = None, withFiles = false)
        def positions(rows: DataFrame, prefix: String) = writeMoved(rows.select(
          col("t.__file").as("file_path"), col("t.__pos").as("pos")), st, s"$prefix-$stamp")
        // row lineage: updated rows keep their ids; sequence re-defaults
        def images(rows: DataFrame, fam: MergePlan.Family, prefix: String) =
          writeMorData(rows.filter(fam.updates).select(
            scanFields.map(f => fam.setValue(f).as(f.name)) ++
              (if (st.hasLineage)
                Seq(col("t.__rlid").as(RowIdColName), lit(null).cast("long").as(LastSeqColName))
              else Nil): _*), st, s"$prefix-$stamp")
        type Written = (Seq[(String, Long, Long)], Seq[MorDataFile])
        // CONCURRENT independent writes (guide §2.6 "overlap independent
        // jobs"): matched tombstones (ONE write covers delete- and
        // update-claimed rows, `__mc` >= 0), update images, by-source
        // tombstones, by-source images and inserts read only the
        // statement's frames and write under DISTINCT prefixes. A zero-row
        // write is SKIPPED instead of running a join-scale job to write
        // nothing. The micros-timestamp session pin is HELD ACROSS the
        // phase, making each write's nested set/restore a same-value no-op
        // — no INT96 race. Results return in input order, so the commit
        // sees the serial loop's per-list file order.
        val written: Seq[Written] = withMicrosTimestamps(spark) {
          ParallelFiles.mapOrdered(Seq[() => Written](
            () => (if (stats.deleted + stats.updated == 0L) Nil
              else positions(matchedPairs.filter(col("__mc") >= 0), "mdd"), Nil),
            () => (Nil, if (stats.updated > 0) images(matchedPairs, matched, "mrgu") else Nil),
            () => (if (stats.bsDeleted + stats.bsUpdated == 0L) Nil
              else positions(bsRows.filter(col("__bsc") >= 0), "bsd"), Nil),
            () => (Nil, if (stats.bsUpdated > 0) images(bsRows, bySource, "bsui") else Nil),
            () => (Nil, if (!plan.inserting) Nil
              else writeMorData(plan.insertRows(plan.unmatched(live0, s1), scanFields),
                st, s"mrgi-$stamp"))))(_())
        }
        val inserted = written.last._2.map(_.rows).sum
        if (stats.changed || inserted > 0)
          commitMor(st, "overwrite", Seq("graft-merge-on" -> condSql),
            written.flatMap(_._1), written.flatMap(_._2))
        (stats.updated + stats.bsUpdated, inserted)
      }
    }
  }

  private def writeAvroAt(fs: org.apache.hadoop.fs.FileSystem, rootPath: Path,
      rel: String, sch: org.apache.avro.Schema, rows: Seq[GenericRecord]): Unit = {
    val out = fs.create(new Path(rootPath, rel), false)
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    w.create(sch, out)
    try rows.foreach(w.append) finally w.close()
  }

  /** COMPACTION — `rewrite_data_files` plus positional-delete compaction
    * in one pass: the current snapshot's surviving rows (delete files
    * applied) rewrite as fresh bin-packed data files in a REPLACE snapshot
    * that references ONLY the new manifest. Table content is
    * snapshot-identical; fragmented data files and every positional delete
    * file drop out of the live set (their bytes reclaim via
    * `expireSnapshots` once history ages out — the iceberg-core
    * arrangement). File count targets `targetFileRows` per file, sized
    * from the manifests' record counts — no extra count job. Returns
    * (dataFilesBefore, dataFilesAfter); (0, 0) = empty table, no commit. */
  def rewriteDataFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileRows: Long = 1024 * 1024,
      // `OPTIMIZE t WHERE <partition predicate>` for the MOR side: scope
      // compaction to the matching identity-partition files only — the
      // daily maintenance job touches one day, not the whole table
      where: Option[String] = None): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val st = loadMorState(spark, path)
    if (st.dataPaths.isEmpty) return (0, 0)
    // (predicate, matched files) of a scoped compaction
    val scope: Option[(String, Set[String])] = where.map { pred =>
      (pred, partitionMatchedFiles(spark, st, pred).getOrElse(
        throw IcebergReadException(
          s"`$path`: OPTIMIZE ... WHERE must reference only identity " +
            "partition source columns")))
    }
    if (scope.exists(_._2.isEmpty)) return (0, 0)
    val rewritten = scope.fold(st.dataPaths)(sc => st.dataPaths.filter(sc._2))
    // manifest-declared row counts size the output without a count() job;
    // on the whole table delete-file record counts subtract (each dead
    // position kills a row)
    val liveEstimate = math.max(1L, scope match {
      case Some((_, matched)) => matched.toSeq.map(st.dataRowCounts.getOrElse(_, 0L)).sum
      case None => st.dataRowCounts.values.sum - st.deleteRows
    })
    val numFiles = math.max(1L, (liveEstimate + targetFileRows - 1) / targetFileRows).toInt
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val rows = liveRows(spark, st.copy(dataPaths = rewritten), withLineage = st.hasLineage)
    val dataCols = rows.schema.fields
      .filterNot(f => Set("__file", "__pos", "__rlid", "__rlseq")(f.name)).toSeq
    val sortCols = defaultSortCols(st.meta).filter(c => dataCols.exists(_.name == c))
    // row lineage: compaction MOVES rows — their stable ids and
    // last-updated sequences materialize into the rewritten files
    val base = rows.select(dataCols.map(f => col(f.name)) ++
      (if (st.hasLineage) Seq(col("__rlid").as(RowIdColName),
        col("__rlseq").as(LastSeqColName)) else Nil): _*)
    // repartition, not coalesce: coalesce would fold the scan itself down
    // to numFiles tasks — on a large fragmented table the read must stay
    // parallel, and the one shuffle is the same order as the write itself.
    // A declared sort order RE-CLUSTERS on compaction (clustering decays
    // as deletes/appends accumulate; the maintenance pass restores it)
    val compacted =
      if (sortCols.isEmpty) base.repartition(numFiles)
      else base.repartitionByRange(numFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val dataFiles = writeMorData(compacted, st, s"cmp-$stamp")
    val summary = "graft-compaction" -> s"target-file-rows=$targetFileRows"
    scope match {
      // untouched manifest entries carry; matched files leave as DELETED
      case Some((pred, matched)) =>
        commitMor(st, "replace", Seq(summary, "graft-predicate" -> pred), Nil, dataFiles,
          carriedOverride = Some(rewriteManifestsDroppingIf(st, e => matched.contains(e.path), "cmpw")))
      case None => commitMor(st, "replace", Seq(summary), Nil, dataFiles, carryPrev = false)
    }
    (rewritten.size, dataFiles.size)
  }

  /** ADD COLUMN schema evolution: a new metadata.json version whose
    * schemas array gains an evolved schema (new schema-id, new field with
    * id = last-column-id + 1) and whose current-schema-id points at it —
    * the spec's evolution shape; snapshots, manifests, and data files are
    * untouched. Pre-evolution files read the new column as NULL (the
    * field id is absent from their footers). The new column is always
    * optional — old files cannot satisfy a required one. */
  def addColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String, typeDdl: String): Unit = {
    val st = loadMorState(spark, path)
    if (!st.meta.has("schemas")) throw IcebergReadException(
      s"ALTER TABLE: `$path` metadata carries no schemas array (v1 single-" +
        "schema layout) — evolution needs the v2 metadata shape")
    val existing = st.snap.currentSchema.path("fields").elements().asScala
      .map(_.path("name").asText()).toSeq
    if (existing.exists(_.equalsIgnoreCase(colName))) throw IcebergReadException(
      s"ALTER TABLE: column `$colName` already exists in `$path`")
    val dt = try org.apache.spark.sql.types.DataType.fromDDL(typeDdl) catch {
      case e: Exception => throw IcebergReadException(
        s"ALTER TABLE: `$typeDdl` is not a Spark type: ${e.getMessage}")
    }
    val iceT = iceType(dt, "ALTER TABLE")
    val maxFieldId = st.meta.path("schemas").elements().asScala.flatMap(
      _.path("fields").elements().asScala.map(_.path("id").asInt(0))).maxOption.getOrElse(0)
    val newFieldId = math.max(st.meta.path("last-column-id").asInt(0), maxFieldId) + 1
    commitEvolvedSchema(st, { evolved =>
      val nf = evolved.withArray("fields").addObject()
      nf.put("id", newFieldId); nf.put("name", colName)
      nf.put("required", false); nf.put("type", iceT)
    }, _.put("last-column-id", newFieldId))
  }

  /** One metadata-only commit: deep-copy the current table metadata, apply
    * `mutateMeta`, bump last-updated, publish it as the next version. The
    * shared tail of every ALTER TABLE that moves no data bytes. */
  private def commitEvolvedMeta(st: MorState,
      mutateMeta: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Unit = {
    val newMeta = st.meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    mutateMeta(newMeta)
    newMeta.put("last-updated-ms", System.currentTimeMillis())
    IcebergLog.commit(st.snap, newMeta)
  }

  /** Shared tail of the schema evolution ops: append an evolved copy of
    * the current schema (new schema-id, `mutate` applied), point
    * current-schema-id at it and apply `mutateMeta`, as one metadata-only
    * commit. */
  private def commitEvolvedSchema(st: MorState,
      mutate: com.fasterxml.jackson.databind.node.ObjectNode => Unit,
      mutateMeta: com.fasterxml.jackson.databind.node.ObjectNode => Unit = _ => ()): Unit = {
    val newSchemaId = st.meta.path("schemas").elements().asScala
      .map(_.path("schema-id").asInt(0)).maxOption.getOrElse(0) + 1
    val evolved = st.snap.currentSchema.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    evolved.put("schema-id", newSchemaId)
    mutate(evolved)
    commitEvolvedMeta(st, { newMeta =>
      newMeta.withArray("schemas").add(evolved)
      newMeta.put("current-schema-id", newSchemaId)
      mutateMeta(newMeta)
    })
  }

  /** ALTER TABLE ... ADD PARTITION FIELD — partition-spec EVOLUTION
    * (iceberg spec "Partition Evolution"): a NEW spec is appended carrying
    * the default spec's fields plus `entry` (partition_by syntax:
    * `bucket(4,id)`, `month(ts)`, `region`); default-spec-id moves to it.
    * Existing data files keep their old spec — each manifest embeds its own
    * partition record schema, and the reader resolves scopes/pruning by
    * field NAME, so both eras coexist in one table. Metadata-only; the
    * next append fans out by the evolved spec. */
  def addPartitionField(spark: org.apache.spark.sql.SparkSession, path: String,
      entry: String): Unit = {
    val st = loadMorState(spark, path)
    val (curSchema, sparkSchema) = currentSparkSchema(st.meta)
    val pf = parsePartitionBy(Seq(entry), sparkSchema).head
    val srcId = curSchema.path("fields").elements().asScala
      .find(_.path("name").asText() == pf.srcCol)
      .map(_.path("id").asInt()).getOrElse(throw IcebergReadException(
        s"ALTER TABLE: partition source column `${pf.srcCol}` is not in `$path`'s schema"))
    val specs = st.meta.path("partition-specs")
    val defaultId = st.meta.path("default-spec-id").asInt(0)
    val defaultSpec = specs.elements().asScala
      .find(_.path("spec-id").asInt(-1) == defaultId).getOrElse(
        throw IcebergReadException(s"`$path`: default-spec-id $defaultId not in partition-specs"))
    val defaultFields = defaultSpec.path("fields").elements().asScala.toSeq
    if (defaultFields.exists(f => f.path("transform").asText() == pf.transform &&
        f.path("source-id").asInt() == srcId))
      throw IcebergReadException(
        s"ALTER TABLE: `$path` is already partitioned by $entry")
    // a field NAME reused with a different meaning would make delete-scope
    // and pruning resolution ambiguous (the reader rejects such tables)
    specs.elements().asScala.flatMap(_.path("fields").elements().asScala)
      .find(f => f.path("name").asText() == pf.name &&
        (f.path("transform").asText() != pf.transform ||
          f.path("source-id").asInt() != srcId))
      .foreach { _ =>
        throw IcebergReadException(
          s"ALTER TABLE: spec field name `${pf.name}` already exists with a " +
            "different transform/source — pick a different transform")
      }
    val newSpecId = specs.elements().asScala
      .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(0) + 1
    val newFieldId = math.max(999, specs.elements().asScala
      .flatMap(_.path("fields").elements().asScala.map(_.path("field-id").asInt(0)))
      .maxOption.getOrElse(999)) + 1
    commitEvolvedMeta(st, { newMeta =>
      val sp = mapper.createObjectNode()
      sp.put("spec-id", newSpecId)
      val fields = sp.putArray("fields")
      defaultFields.foreach(f => fields.add(f.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
      val nf = fields.addObject()
      nf.put("name", pf.name); nf.put("transform", pf.transform)
      nf.put("source-id", srcId); nf.put("field-id", newFieldId)
      newMeta.withArray("partition-specs").add(sp)
      newMeta.put("default-spec-id", newSpecId)
      newMeta.put("last-partition-id", newFieldId)
    })
  }

  /** ALTER TABLE ... DROP PARTITION FIELD — the inverse evolution: a new
    * spec without the named field becomes the default. Old files keep
    * their tuples; only FUTURE writes stop fanning out by it. */
  def dropPartitionField(spark: org.apache.spark.sql.SparkSession, path: String,
      fieldName: String): Unit = {
    val st = loadMorState(spark, path)
    val specs = st.meta.path("partition-specs")
    val defaultId = st.meta.path("default-spec-id").asInt(0)
    val defaultSpec = specs.elements().asScala
      .find(_.path("spec-id").asInt(-1) == defaultId).getOrElse(
        throw IcebergReadException(s"`$path`: default-spec-id $defaultId not in partition-specs"))
    val defaultFields = defaultSpec.path("fields").elements().asScala.toSeq
    if (!defaultFields.exists(_.path("name").asText() == fieldName))
      throw IcebergReadException(
        s"ALTER TABLE: `$fieldName` is not a field of `$path`'s default " +
          s"partition spec (${defaultFields.map(_.path("name").asText()).mkString(", ")})")
    val newSpecId = specs.elements().asScala
      .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(0) + 1
    commitEvolvedMeta(st, { newMeta =>
      val sp = mapper.createObjectNode()
      sp.put("spec-id", newSpecId)
      val fields = sp.putArray("fields")
      defaultFields.filter(_.path("name").asText() != fieldName)
        .foreach(f => fields.add(f.deepCopy[com.fasterxml.jackson.databind.JsonNode]()))
      newMeta.withArray("partition-specs").add(sp)
      newMeta.put("default-spec-id", newSpecId)
    })
  }

  /** The current schema node + its Spark-type rendering (drives
    * parsePartitionBy's type checks). */
  private def currentSparkSchema(meta: com.fasterxml.jackson.databind.JsonNode)
      : (com.fasterxml.jackson.databind.JsonNode, StructType) = {
    val cur = IcebergLog.currentSchema(meta)
    // non-textual types (struct/list/map) cannot source a partition
    // transform — keep them out of the projection instead of failing the
    // whole table for an unrelated nested column
    val fields = cur.path("fields").elements().asScala
      .filter(_.path("type").isTextual).flatMap { f =>
        scala.util.Try(StructField(f.path("name").asText(),
          icePrimToSpark(f.path("type").asText()))).toOption
      }.toSeq
    (cur, StructType(fields))
  }

  /** DROP COLUMN (metadata-only): the field leaves the current schema; the
    * bytes stay in the data files, simply never projected again — O(1),
    * no rewrite, the spec's drop semantics. Rejects when the column feeds
    * the partition spec, or when live equality-delete files reference its
    * field id (their match tuples would dangle). */
  def dropColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String): Unit = {
    val st = loadMorState(spark, path)
    if (!st.meta.has("schemas")) throw IcebergReadException(
      s"ALTER TABLE: `$path` metadata carries no schemas array — evolution " +
        "needs the v2 metadata shape")
    val field = st.snap.currentSchema.path("fields").elements().asScala
      .find(_.path("name").asText() == colName).getOrElse(
        throw IcebergReadException(
          s"ALTER TABLE: column `$colName` does not exist in `$path`"))
    val fieldId = field.path("id").asInt()
    val specSources = st.meta.path("partition-specs").elements().asScala
      .flatMap(_.path("fields").elements().asScala.map(_.path("source-id").asInt())).toSet
    if (specSources.contains(fieldId)) throw IcebergReadException(
      s"ALTER TABLE: column `$colName` feeds the partition spec — dropping it " +
        "would orphan the partition tuples; this writer does not evolve specs")
    if (st.priorDeleteFiles.nonEmpty) throw IcebergReadException(
      s"ALTER TABLE: `$path` carries live row-level delete files — compact " +
        "first (rewriteDataFiles), then drop the column (an equality delete " +
        "referencing the dropped field id would dangle)")
    commitEvolvedSchema(st, { evolved =>
      val fields = evolved.withArray("fields")
      val keep = fields.elements().asScala
        .filter(_.path("name").asText() != colName).toSeq
      fields.removeAll()
      keep.foreach(fields.add)
    })
  }

  /** RENAME COLUMN (metadata-only): same field id, new name — data files
    * resolve by parquet field id, so reads keep working across the rename
    * (the reader's rename test pins this). Rejects on id-less data files
    * (imported/converted tables resolve by NAME; a rename would silently
    * null the column) via the same sampled footer probe the reader uses. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      oldName: String, newName: String): Unit = {
    val st = loadMorState(spark, path)
    if (!st.meta.has("schemas")) throw IcebergReadException(
      s"ALTER TABLE: `$path` metadata carries no schemas array — evolution " +
        "needs the v2 metadata shape")
    val names = st.snap.currentSchema.path("fields").elements().asScala.map(_.path("name").asText()).toSeq
    if (!names.contains(oldName)) throw IcebergReadException(
      s"ALTER TABLE: column `$oldName` does not exist in `$path`")
    if (names.exists(_.equalsIgnoreCase(newName))) throw IcebergReadException(
      s"ALTER TABLE: column `$newName` already exists in `$path`")
    // probe EVERY live data file for parquet field ids, else the rename
    // breaks name-resolved reads — a sampled probe would let an id-less
    // file outside the sample silently null the renamed column (footer
    // reads are bounded driver work, O(live files))
    val paths = st.dataPaths
    val probeIdx = paths.indices
    probeIdx.foreach { i =>
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(paths(i)), spark.sessionState.newHadoopConf()))
      val hasIds = try rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
        .forall(_.getId != null) finally rdr.close()
      if (!hasIds) throw IcebergReadException(
        s"ALTER TABLE: data file `${paths(i)}` carries no parquet field ids — " +
          "it resolves by NAME, so renaming would silently null the column; " +
          "rewrite the table first (rewriteDataFiles)")
    }
    commitEvolvedSchema(st, { evolved =>
      evolved.withArray("fields").elements().asScala.foreach {
        case f: com.fasterxml.jackson.databind.node.ObjectNode
          if f.path("name").asText() == oldName => f.put("name", newName)
        case _ => ()
      }
    })
  }

  /** ROLLBACK — re-points `current-snapshot-id` at an existing (usually
    * older) snapshot in a new metadata.json version, appending to the
    * snapshot-log; nothing else changes, so the rolled-past snapshots stay
    * time-travelable until expired. The iceberg `rollback_to_snapshot`
    * procedure's arrangement. */
  def rollbackTo(spark: org.apache.spark.sql.SparkSession, path: String,
      snapshotId: Long): Unit = {
    val st = loadMorState(spark, path)
    val known = st.snap.snapshots.map(_.path("snapshot-id").asLong())
    if (!known.contains(snapshotId)) throw IcebergReadException(
      s"`$path`: cannot roll back to snapshot $snapshotId — table knows " +
        s"snapshots ${known.sorted.mkString(", ")}")
    commitEvolvedMeta(st, { newMeta =>
      newMeta.put("current-snapshot-id", snapshotId)
      logEntry(newMeta, snapshotId)
    })
  }

  /** Append `snapshotId` to a metadata node's snapshot-log. */
  private def logEntry(meta: com.fasterxml.jackson.databind.node.ObjectNode,
      snapshotId: Long, timestampMs: Long = System.currentTimeMillis()): Unit = {
    val entry = meta.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
      .addObject()
    entry.put("timestamp-ms", timestampMs)
    entry.put("snapshot-id", snapshotId)
  }

  /** CREATE TAG / CREATE BRANCH (spec v2 `refs`): pin a name to a snapshot
    * — a TAG marks an immutable point (the training-run reproducibility
    * lever: `ref=run-2026-08` reads the exact corpus a job trained on), a
    * BRANCH is a movable line this writer otherwise leaves where it is
    * (only `main` advances with commits). `snapshotId` defaults to the
    * current snapshot; `main` and existing names reject (drop first). */
  def createRef(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String, isBranch: Boolean = false,
      snapshotId: Option[Long] = None): Long = {
    val st = loadMorState(spark, path)
    if (name == "main") throw IcebergReadException(
      s"`$path`: ref `main` is the live branch — it advances with commits " +
        "and cannot be re-pinned")
    if (st.meta.path("refs").has(name)) throw IcebergReadException(
      s"`$path`: ref `$name` already exists; dropRef first")
    val known = st.snap.snapshots.map(_.path("snapshot-id").asLong()).toSet
    val target = snapshotId.getOrElse(st.meta.path("current-snapshot-id").asLong())
    if (!known.contains(target)) throw IcebergReadException(
      s"`$path`: snapshot $target not in table metadata (known: " +
        s"${known.toSeq.sorted.mkString(", ")})")
    commitEvolvedMeta(st, { newMeta =>
      val refs =
        if (newMeta.has("refs"))
          newMeta.path("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        else newMeta.putObject("refs")
      val r = refs.putObject(name)
      r.put("snapshot-id", target)
      r.put("type", if (isBranch) "branch" else "tag")
    })
    target
  }

  /** FAST-FORWARD main to a branch's head — the PUBLISH step of
    * write-audit-publish: after audit reads (`ref=<branch>`) pass, main's
    * current-snapshot-id jumps to the branch head and the snapshot-log
    * records the publish instant. The branch ref stays (drop it separately
    * when the pipeline retires it). Returns the published snapshot id. */
  def fastForward(spark: org.apache.spark.sql.SparkSession, path: String,
      branch: String): Long = {
    val st = loadMorState(spark, path)
    val r = st.meta.path("refs").path(branch)
    if (!r.has("snapshot-id")) throw IcebergReadException(
      s"`$path`: no ref `$branch`; known: " +
        st.meta.path("refs").fieldNames().asScala.mkString(", "))
    if (r.path("type").asText("branch") != "branch") throw IcebergReadException(
      s"`$path`: ref `$branch` is a TAG — fast-forward publishes a BRANCH")
    val target = r.path("snapshot-id").asLong()
    if (st.snap.snapshotById(target).isEmpty) throw IcebergReadException(
      s"`$path`: branch `$branch` head $target is not in the snapshots list")
    commitEvolvedMeta(st, { newMeta =>
      newMeta.put("current-snapshot-id", target)
      val mainRef = newMeta.path("refs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].putObject("main")
      mainRef.put("snapshot-id", target)
      mainRef.put("type", "branch")
      logEntry(newMeta, target)
    })
    target
  }

  /** Drop a tag/branch by name; `main` rejects. */
  def dropRef(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String): Unit = {
    val st = loadMorState(spark, path)
    if (name == "main") throw IcebergReadException(
      s"`$path`: ref `main` is the live branch and cannot be dropped")
    if (!st.meta.path("refs").has(name)) throw IcebergReadException(
      s"`$path`: no ref `$name`; known: " +
        st.meta.path("refs").fieldNames().asScala.mkString(", "))
    commitEvolvedMeta(st,
      _.path("refs").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].remove(name))
  }

  /** CALL system.rewrite_manifests — manifest CONSOLIDATION, the metadata
    * health lever of a long-lived table: a steady drip of commits leaves
    * one small manifest per snapshot, and planning cost grows with the
    * manifest COUNT even when the data is compact. Live entries from every
    * current manifest re-land in one manifest per distinct entry schema
    * (mixed eras — unpartitioned vs partition-aware records — cannot share
    * an Avro schema, so they group), statuses ADDED→EXISTING, per-entry
    * sequence numbers made explicit so inheritance survives the move;
    * DELETED tombstones consolidate away. One `replace` snapshot, zero
    * data bytes. Returns (manifests before, after). */
  def rewriteManifests(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    val st = loadMorState(spark, path)
    val before = st.manifests.size
    if (before <= 1) return (before, before)
    // group live entries by (writer schema, data-vs-delete): records copy
    // VERBATIM so bounds/stats/tuples survive untouched; mixed eras
    // (unpartitioned vs partition-aware records) cannot share an Avro
    // schema, and the spec forbids data and delete files in ONE manifest
    val groups = scala.collection.mutable.LinkedHashMap[
      (org.apache.avro.Schema, Boolean),
      scala.collection.mutable.Buffer[GenericRecord]]()
    st.manifests.foreach { m =>
      st.snap.entries(m).filter(_.live).foreach { entry =>
        val e = entry.raw
        // An entry schema WITHOUT sequence_number (foreign/older writer)
        // can only inherit its manifest's sequence — after consolidation
        // that manifest carries maxSeq, silently inflating the entry's
        // sequence past any equality-delete it was subject to (the
        // strictly-lower rule) and resurrecting deleted rows. Refuse
        // unless inheritance is a no-op (the manifest's sequence already
        // == maxSeq).
        val hasSeqField = e.getSchema.getField("sequence_number") != null
        if (!hasSeqField && m.seq != st.lastSeq)
          throw IcebergReadException(
            s"rewrite_manifests: manifest `${m.path}` (sequence ${m.seq}) has an " +
            s"entry schema without sequence_number; consolidating would " +
            s"inflate its entries' inherited sequence to ${st.lastSeq}, " +
            "breaking delete-file visibility — leave it unconsolidated " +
            "or rewrite it with a sequence-bearing writer first")
        if (hasSeqField && e.get("sequence_number") == null)
          e.put("sequence_number", Long.box(m.seq))
        if (entry.status == 1) e.put("status", 0)
        groups.getOrElseUpdate((e.getSchema, entry.content != 0),
          scala.collection.mutable.Buffer[GenericRecord]()) += e
      }
    }
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val maxSeq = st.lastSeq
    val newList: Seq[(String, Long)] = groups.toSeq.zipWithIndex.map {
      case (((sch, _), entries), i) =>
        val rel = s"metadata/m-rw-${st.lastSnapshotId + 1}-$stamp-$i.avro"
        writeAvroAt(st.fs, st.rootPath, rel, sch, entries.toSeq)
        (rel, maxSeq)
    }
    commitMor(st, "replace",
      Seq("graft-rewritten-manifests" -> before.toString),
      Nil, Nil, carriedOverride = Some(newList))
    (before, newList.size)
  }

  /** CALL system.rewrite_position_delete_files — the iceberg-spark
    * maintenance procedure that keeps merge-on-read READ cost sane: every
    * row-level DELETE/UPDATE leaves one positional-delete parquet behind,
    * and each live delete file is another anti-join input at scan time.
    * All live positional-delete files (content=1 parquet — puffin DVs and
    * equality deletes are untouched) consolidate into ONE sorted file:
    * entries whose referenced data file is no longer live DROP (their
    * target is gone — dangling tombstones), duplicates collapse, and the
    * output sorts by (file_path, pos) for run-length-friendly encoding.
    * The new file lands at the next sequence number — positional deletes
    * name exact (path, pos) rows, so the broader sequence visibility is
    * harmless by construction. One `replace` snapshot: old delete entries
    * retire (DELETED) via manifest rewrite, zero data bytes move. Returns
    * (deleteFilesBefore, deleteFilesAfter). */
  def rewritePositionDeleteFiles(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val st = loadMorState(spark, path)
    val before = st.priorDeleteFiles.size
    if (before <= 1) return (before, before)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // live-data filter via a broadcast join on normalized path keys — the
    // delete files' file_path spelling must match however the writer
    // recorded the scan paths (URI vs plain), same key space as the reader
    val liveKeys = st.dataPaths.map(graft.sources.PathKeys.key)
    val liveDf = {
      import spark.implicits._
      liveKeys.toDF("__rpk")
    }
    val consolidated = spark.read.parquet(st.priorDeleteFiles: _*)
      .select(col("file_path"), col("pos").cast("long").as("pos"))
      .withColumn("__rpk", graft.sources.PathKeys.keyCol(col("file_path")))
      .join(broadcast(liveDf), Seq("__rpk"))
      .drop("__rpk")
      .dropDuplicates("file_path", "pos")
      .repartition(1)
      .sortWithinPartitions("file_path", "pos")
    val delFiles = writeMoved(consolidated, st, s"posrw-$stamp")
    // retire every old positional-delete entry; data entries carry as-is
    val dropped = st.priorDeleteFiles.toSet
    val carried = rewriteManifestsDroppingIf(st, e => dropped.contains(e.path), s"posrw-$stamp")
    commitMor(st, "replace",
      Seq("graft-rewritten-position-delete-files" -> before.toString),
      delFiles, Nil, carriedOverride = Some(carried))
    (before, delFiles.size)
  }

  /** REMOVE ORPHAN FILES — the maintenance sibling of expireSnapshots for
    * CRASHED writes: a data/metadata file no snapshot references (a task
    * that wrote then died before commit, a torn fanout temp move) sits in
    * the tree forever unless something diffs the LISTING against the
    * REACHABLE set. Reachability = every listed snapshot's manifest list →
    * manifests → every entry's file_path (data, positional/equality
    * deletes, puffin DVs alike) + all metadata files. `graceMs` protects
    * files younger than the window (a CONCURRENT writer's uncommitted
    * output looks orphaned until its commit lands — the same race
    * Iceberg's own remove_orphan_files defaults 3 days for). Returns the
    * deleted count. */
  def removeOrphanFiles(spark: org.apache.spark.sql.SparkSession, path: String,
      graceMs: Long = 3L * 24 * 3600 * 1000): Int = {
    val snap = IcebergLog.current(spark, path)
    val (fs, rootPath, metaDir) = (snap.fs, snap.root, snap.metaDir)
    val reachable: Set[String] =
      snap.snapshots.flatMap(reachableFiles(snap, _)).map(fs.makeQualified(_).toString).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    // sweep data/ (orphaned task output) and metadata/ avro (torn manifest
    // writes); metadata.json versions and the version hint stay — they
    // ARE the table history, expireSnapshots owns trimming it
    Seq(new Path(rootPath, "data"), metaDir).foreach { dirP =>
      if (fs.exists(dirP)) {
        val it = fs.listFiles(dirP, true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          val isMetaJson = name.endsWith(".metadata.json") || name == IcebergLog.HintName
          if (f.isFile && !isMetaJson && f.getModificationTime < cutoff &&
            !reachable.contains(fs.makeQualified(f.getPath).toString)) {
            if (fs.delete(f.getPath, false)) deleted += 1
          }
        }
      }
    }
    deleted
  }

  /** EXPIRE SNAPSHOTS — the Iceberg maintenance pass that stops metadata
    * (and the orphaned data behind it) growing without bound: snapshots
    * older than `retentionMs` that are NOT current are dropped from a new
    * metadata.json version (snapshot-log trimmed to match), then any
    * manifest, manifest-list, or data file referenced ONLY by expired
    * snapshots is deleted. Mirrors `expireSnapshots` in iceberg-core; all
    * bounded driver metadata work. Returns (snapshotsExpired,
    * filesDeleted). */
  def expireSnapshots(spark: org.apache.spark.sql.SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): (Int, Int) = {
    val snap = IcebergLog.current(spark, path)
    val currentId = snap.currentSnapshotId
    val cutoff = System.currentTimeMillis() - retentionMs
    // a snapshot pinned by any ref (tag/branch) is PROTECTED from
    // expiration regardless of age — dropping it would break every
    // `ref=` read that name promises (the spec's retention rule)
    val refPinned: Set[Long] = snap.refs.elements().asScala
      .map(_.path("snapshot-id").asLong()).toSet
    val (expired, kept) = snap.snapshots.partition { sn =>
      val id = sn.path("snapshot-id").asLong()
      id != currentId && !refPinned.contains(id) &&
        sn.path("timestamp-ms").asLong() < cutoff
    }
    if (expired.isEmpty) return (0, 0)
    // read EVERY reachability set before deleting anything — expired
    // snapshots share manifests with each other (appends carry them
    // forward), so delete-as-you-go would tear files out from under the
    // next snapshot's walk
    val doomed = expired.flatMap(reachableFiles(snap, _)).toSet --
      kept.flatMap(reachableFiles(snap, _))
    val keptIds = kept.map(_.path("snapshot-id").asLong()).toSet
    val newLog = snap.meta.path("snapshot-log").elements().asScala.toSeq
      .filter(e => keptIds.contains(e.path("snapshot-id").asLong()))
    val newMeta = snap.meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    newMeta.set[com.fasterxml.jackson.databind.JsonNode]("snapshots",
      mapper.createArrayNode().addAll(kept.asJava))
    newMeta.set[com.fasterxml.jackson.databind.JsonNode]("snapshot-log",
      mapper.createArrayNode().addAll(newLog.asJava))
    // publish first, then delete (iceberg-core's order): a lost commit
    // leaves the still-current metadata's files intact, and a crash in
    // between leaves only orphans, which removeOrphanFiles reclaims
    IcebergLog.commit(snap, newMeta)
    (expired.size, doomed.count(snap.fs.delete(_, false)))
  }

  /** The files snapshot `sn` reaches: its manifest list, its manifests and
    * every entry's file (data, delete files and DVs alike, DELETED entries
    * included). */
  private def reachableFiles(snap: IcebergLog.Snapshot,
      sn: com.fasterxml.jackson.databind.JsonNode): Seq[Path] = {
    val manifests = snap.manifestsOf(sn)
    Option(sn.path("manifest-list").asText(null)).map(snap.resolve).toSeq ++
      manifests.map(_.file) ++ manifests.flatMap(snap.entries).map(e => new Path(e.path))
  }
}
