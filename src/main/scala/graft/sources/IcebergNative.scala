package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Minimal native Apache Iceberg reader — no connector jar required.
  *
  * The reference reads Iceberg through DuckDB's iceberg extension
  * (src/fdw/iceberg.rs, src/duckdb/iceberg.rs:48-89: `iceberg_scan(path)`
  * of a table root, latest snapshot). This reader is built from the PUBLIC
  * Iceberg table spec (iceberg.apache.org/spec): a table root holds
  * `metadata/vN.metadata.json` (the current one resolved by [[IcebergLog]]),
  * whose current snapshot points at an Avro manifest list, whose rows point
  * at Avro manifest files, whose entries list the parquet data files. The
  * Avro core library ships with Spark, so manifest reading needs nothing
  * beyond the stock classpath.
  *
  * Metadata traversal is bounded driver-side work (manifests are the
  * table's file index — the same work the iceberg library does at plan
  * time); the DATA read is a distributed `spark.read.parquet` over the live
  * files with the schema converted from the table metadata (so types are
  * authoritative, not re-inferred). Identity-partitioned Iceberg data files
  * carry every table column in the file itself, so no partition-value
  * reconstruction is needed.
  *
  * Supported: format v1 and v2 snapshots (`manifest-list` or inline v1
  * `manifests`), DELETED manifest entries, multiple schemas via
  * `current-schema-id`, and v2 ROW-LEVEL DELETES — positional delete files
  * anti-joined on `(_metadata.file_path, _metadata.row_index)` and equality
  * delete files anti-joined on their equality columns, both honoring the
  * spec's sequence-number visibility rules. Equality deletes may be
  * partition-scoped by identity, bucket, truncate, and the date/time
  * transforms — the transform is recomputed per data row, closed-form per
  * the spec (bucket via the seed-0 murmur3 codegen expression
  * IcebergBucketExpr). V3 PUFFIN DELETION VECTORS apply too: the manifest's
  * content_offset/content_size locate the blob, executors decode the
  * Delta-compatible roaring bitmap (DeletionVectors), and dead positions
  * anti-join the scan keyed by the referenced data file. NESTED-FIELD
  * equality deletes resolve ids through struct paths (a.b.c) with the
  * spec's projected-table-schema delete-file layout; `time` columns read
  * as their exact micros-of-day longs and surface as TimestampNTZ on the
  * epoch date (Spark has no file-source TIME support). NOT supported —
  * rejected loudly, never misread: other non-parquet files, DV entries
  * missing their blob locator fields, equality deletes on ids inside
  * list/map element types, `time` nested inside a struct.
  */
object IcebergNative {

  final case class IcebergReadException(msg: String) extends IllegalArgumentException(msg)

  /** One equality-delete scope predicate: source column, partition
    * transform, and the tuple's stored (transformed) value — null means
    * the delete is scoped to the NULL partition of that source. */
  private final case class ScopeField(col: String, transform: String, value: Any)

  // spec transform names; metadata emits singular or plural by version
  private val SupportedScopeTransforms: Seq[String] = Seq(
    "identity", """bucket\[\d+\]""", """truncate\[\d+\]""",
    "year", "years", "month", "months", "day", "days", "hour", "hours")

  /** The table's append-only snapshot-log as (timestamp-ms, snapshot-id)
    * entries, oldest first — the offset ledger a streaming follower polls.
    * Empty when the table has no snapshot-log yet. */
  def snapshotLog(spark: SparkSession, root: String): Seq[(Long, Long)] =
    IcebergLog.current(spark, root).snapshotLog

  /** Snapshot-history introspection (`iceberg_snapshots('<root>')`): one
    * row per snapshot in the current metadata.json — id, parent, sequence
    * number, commit timestamp, operation from the summary, manifest list,
    * and whether it is the current snapshot. Bounded driver metadata work;
    * the frame is history-sized. */
  def snapshots(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val snap = IcebergLog.current(spark, root)
    val currentId = snap.currentSnapshotId
    val rows = snap.snapshots.map { sn =>
      Row(
        sn.path("snapshot-id").asLong(),
        if (sn.has("parent-snapshot-id")) java.lang.Long.valueOf(sn.path("parent-snapshot-id").asLong())
        else null,
        sn.path("sequence-number").asLong(0L),
        new java.sql.Timestamp(sn.path("timestamp-ms").asLong()),
        if (sn.path("summary").has("operation"))
          sn.path("summary").path("operation").asText()
        else null,
        if (sn.has("manifest-list")) sn.path("manifest-list").asText() else null,
        sn.path("snapshot-id").asLong() == currentId)
    }
    if (rows.isEmpty) throw IcebergReadException(
      s"`$root`: metadata.json lists no snapshots")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType),
      StructField("sequence_number", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType),
      StructField("manifest_list", StringType),
      StructField("is_current", BooleanType, nullable = false))))
  }

  /** The CURRENT snapshot's manifests with their entry tallies — the
    * iceberg `table.manifests` metadata-table shape: one row per manifest
    * (path, sequence number, data vs delete content, live/deleted entry
    * counts, row totals). Bounded driver Avro walks, no data touched;
    * the rows an operator reads to judge compaction/expiry health. */
  def manifests(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val snap = IcebergLog.current(spark, root)
    val rows = snap.manifestsOf(snap.currentSnapshot).map { m =>
      val (live, removed) = snap.entries(m).partition(_.live)
      val liveData = live.count(_.content == 0).toLong
      val liveDeletes = live.size - liveData
      Row(m.path, m.seq, if (liveDeletes > 0 && liveData == 0) "deletes" else "data",
        liveData, liveDeletes, removed.size.toLong, live.map(_.recordCount).sum)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("manifest_path", StringType, nullable = false),
      StructField("sequence_number", LongType, nullable = false),
      StructField("content", StringType, nullable = false),
      StructField("live_data_files", LongType, nullable = false),
      StructField("live_delete_files", LongType, nullable = false),
      StructField("removed_entries", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false))))
  }

  /** The CURRENT snapshot's live FILES — the iceberg `table.files`
    * metadata-table shape: one row per live manifest entry (data and
    * delete files alike), partition tuple rendered as JSON. Bounded driver
    * Avro walks; no data bytes touched. */
  def files(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val snap = IcebergLog.current(spark, root)
    val rows = snap.manifestsOf(snap.currentSnapshot).flatMap(snap.entries).filter(_.live).map { e =>
      val partJson = e.partition.map(_ => e.tuple.map { case (name, v0) =>
        val v = v0 match {
          case null => "null"
          case s0: String => "\"" + s0.replace("\"", "\\\"") + "\""
          case other => other.toString
        }
        "\"" + name + "\":" + v
      }.mkString("{", ",", "}")).orNull
      Row(
        e.content match { case 0 => "data"; case 1 => "position-deletes"; case 2 => "equality-deletes"; case n => s"content-$n" },
        e.file.get("file_path").toString,
        e.format,
        partJson,
        e.recordCount,
        IcebergLog.field(e.file, "file_size_in_bytes").map(_.asInstanceOf[Long].longValue())
          .map(java.lang.Long.valueOf).orNull,
        e.seq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("content", StringType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("partition", StringType),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType),
      StructField("sequence_number", LongType, nullable = false))))
  }

  /** Live PARTITIONS of the current snapshot — the `table.partitions`
    * shape: live data files aggregated per rendered tuple. */
  def partitions(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
    files(spark, root).filter(col("content") === "data")
      .groupBy(coalesce(col("partition"), lit("{}")).as("partition"))
      .agg(count(lit(1)).as("file_count"),
        sum(col("record_count")).as("record_count"),
        sum(col("file_size_in_bytes")).as("total_size_bytes"))
  }

  /** The refs map (spec v2) — the `table.refs` shape: one row per named
    * tag/branch with its pinned snapshot. */
  def refs(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = IcebergLog.current(spark, root).refs.properties().asScala.toSeq.map { ent =>
      Row(ent.getKey, ent.getValue.path("type").asText("branch"),
        ent.getValue.path("snapshot-id").asLong())
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false))))
  }

  def read(spark: SparkSession, root: String, options: Map[String, String]): DataFrame = {
    val snap = IcebergLog.current(spark, root)
    val (conf, fs, meta, rootPath) = (snap.conf, snap.fs, snap.meta, snap.root)

    // --- schema → Spark StructType (by schema-id; default = current) ---
    val curSchemaNode: JsonNode = snap.currentSchema
    val curSchema = toStruct(curSchemaNode, timeAsLong = true)

    // --- snapshot → live parquet files (TIME TRAVEL: `snapshot_id` pins
    // any snapshot the metadata still lists; `as_of_timestamp` resolves an
    // instant to the last snapshot-log entry at or before it; default =
    // current) ---
    val requestedId: Option[Long] = options.get("snapshot_id").map { v =>
      try v.toLong catch {
        case _: NumberFormatException =>
          throw IcebergReadException(s"snapshot_id `$v` is not a number")
      }
    }
    val requestedTs: Option[Long] = options.get("as_of_timestamp").map { v =>
      try TimeTravel.parseMillis("as_of_timestamp", v)
      catch { case e: IllegalArgumentException => throw IcebergReadException(e.getMessage) }
    }
    // `ref=<name>` pins a snapshot by its REF (spec v2 `refs`): a tag is an
    // immutable named point (reproducible corpus reads), a branch a movable
    // line — both resolve to the ref's recorded snapshot-id.
    val requestedRef: Option[Long] = options.get("ref").map { name =>
      val node = meta.path("refs").path(name)
      if (!node.has("snapshot-id")) {
        val known = meta.path("refs").fieldNames().asScala.mkString(", ")
        throw IcebergReadException(
          s"`$root`: no ref `$name` in table metadata" +
            (if (known.isEmpty) " (table has no refs)" else s" (known: $known)"))
      }
      node.path("snapshot-id").asLong()
    }
    if (Seq(requestedId, requestedTs, requestedRef).count(_.isDefined) > 1)
      throw IcebergReadException(
        "snapshot_id, as_of_timestamp and ref are mutually exclusive; pass one")
    val requested: Option[Long] = requestedId.orElse(requestedRef).orElse(requestedTs.map { target =>
      // snapshot-log is the table's append-only (timestamp-ms, snapshot-id)
      // history per the Iceberg spec; entries are already time-ordered
      val history = snap.snapshotLog.map(_.swap)
      if (history.isEmpty) throw IcebergReadException(
        s"`$root`: as_of_timestamp needs a snapshot-log in the table metadata, " +
          "but it is empty or absent")
      try TimeTravel.resolve(history, target, "as_of_timestamp", "snapshot")
      catch {
        case e: IllegalArgumentException => throw IcebergReadException(s"`$root`: ${e.getMessage}")
      }
    })
    val snapId = requested.getOrElse(snap.currentSnapshotId)
    if (snapId == -1L) // an empty table has no snapshot yet (time cols
      // still surface as TimestampNTZ — same schema as a populated read)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(curSchema.fields.map(f =>
          if (f.metadata.contains(TimeMarker))
            f.copy(dataType = TimestampNTZType, metadata = Metadata.empty)
          else f)))
    def knownIds = snap.snapshots.map(_.path("snapshot-id").asLong()).mkString(", ")
    val snapshot = snap.snapshotById(snapId)
      .getOrElse {
        val known = knownIds
        throw IcebergReadException(
          if (requested.isDefined)
            s"snapshot_id $snapId not found in table metadata (known: $known) — expired?"
          else s"current-snapshot-id $snapId not found in snapshots")
      }

    // A TIME-TRAVEL read serves the schema of the pinned snapshot (the
    // spec's snapshot `schema-id` field), not today's — a column added
    // since must not appear in a historical read. Snapshots written before
    // the field existed (v1) fall back to the current schema.
    val schemaNode: JsonNode = {
      val snapSchemaId = Option(snapshot.path("schema-id"))
        .filter(n => !n.isMissingNode && !n.isNull).map(_.asInt())
      if (requested.isDefined && meta.has("schemas") && snapSchemaId.isDefined)
        IcebergLog.schemaById(meta, snapSchemaId.get).getOrElse(throw IcebergReadException(
          s"schema-id ${snapSchemaId.get} not found in schemas (named by the snapshot)"))
      else curSchemaNode
    }
    val schema = if (schemaNode eq curSchemaNode) curSchema
      else toStruct(schemaNode, timeAsLong = true)

    // --- walk manifests: data files + v2 row-level delete files, each with
    // its sequence number (entry-level, inherited from the manifest-list row
    // when null — the spec's inheritance rule) ---
    val manifestRefs: Seq[IcebergLog.Manifest] = snap.manifestsOf(snapshot)
    def opt(r: GenericRecord, field: String): Option[AnyRef] = IcebergLog.field(r, field)

    // INCREMENTAL BOUND (`changes_since_snapshot`): manifest files are
    // IMMUTABLE, so one shared by the base and end snapshots cannot
    // contribute any change — new data files only live in END-ONLY
    // manifests, and a shared manifest's delete entries sit at sequences
    // at or below the base's (an equality delete applies strictly below
    // itself and a positional/DV delete references a file that already
    // existed — none can touch data committed after the base). Walking
    // ONLY the end-only manifests (plus base-only ones for the
    // rewrite-subtraction further down) makes a follow micro-batch
    // O(changed manifests), not O(whole table) — the x08 scale bound.
    val incrementalBase: Option[(JsonNode, Seq[IcebergLog.Manifest])] =
      options.get("changes_since_snapshot").map { v =>
        val baseId = try v.toLong catch {
          case _: NumberFormatException =>
            throw IcebergReadException(s"changes_since_snapshot `$v` is not a number")
        }
        val baseSnap = snap.snapshotById(baseId).getOrElse(throw IcebergReadException(
          s"changes_since_snapshot $baseId not found in table metadata " +
            s"(known: $knownIds) — expired?"))
        (baseSnap, snap.manifestsOf(baseSnap))
      }
    val walkRefs: Seq[IcebergLog.Manifest] = incrementalBase match {
      case None => manifestRefs
      case Some((_, baseRefs)) =>
        val basePathsSet = baseRefs.map(_.file).toSet
        manifestRefs.filterNot(m => basePathsSet.contains(m.file))
    }

    // partition specs (for delete-scope resolution): field name →
    // (transform, source column name). Names are unique within a spec and
    // stable across the common evolution paths, so a flat map suffices —
    // an unknown name rejects loudly below, never misapplies a delete.
    val idToName: Map[Int, String] = schemaNode.path("fields").elements().asScala
      .map(f => f.path("id").asInt() -> f.path("name").asText()).toMap

    // field id → access path, descending into STRUCT nesting (a.b.c). Ids
    // inside list/map element types are deliberately absent: the Iceberg
    // spec's equality-delete rule allows nested fields only when they are
    // NOT inside a map or list (a repeated element can't address a row),
    // so a delete file referencing one is MALFORMED — loud reject is the
    // spec-correct terminal behavior, not a coverage gap.
    val idToPath: Map[Int, Seq[String]] = {
      def walk(node: JsonNode, prefix: Seq[String]): Seq[(Int, Seq[String])] =
        node.path("fields").elements().asScala.toSeq.flatMap { f =>
          val p = prefix :+ f.path("name").asText()
          val self = f.path("id").asInt() -> p
          val t = f.path("type")
          if (!t.isTextual && t.path("type").asText() == "struct") self +: walk(t, p)
          else Seq(self)
        }
      walk(schemaNode, Nil).toMap
    }
    val specFields: Map[String, (String, Option[String])] = {
      val pairs = snap.specs.flatMap { sp =>
        val fields = if (sp.has("fields")) sp.path("fields") else sp
        fields.elements().asScala.map { f =>
          f.path("name").asText() ->
            (f.path("transform").asText("identity"),
              idToName.get(f.path("source-id").asInt(-1)))
        }
      }
      // a name reused across specs with a DIFFERENT meaning would make
      // tuple resolution ambiguous — reject at scope-resolution time
      pairs.groupBy(_._1).map {
        case (n, vs) if vs.map(_._2).distinct.size == 1 => n -> vs.head._2
        case (n, _) => n -> (("__ambiguous__", None: Option[String]))
      }
    }

    /** Equality-delete partition scope (spec: a partition-scoped equality
      * delete applies only within its partition tuple): each tuple field
      * becomes an extra predicate on the anti-join — identity compares the
      * source column, bucket/truncate/days/months/years/hours recompute the
      * transform per data row (closed-form per the spec; bucket uses the
      * spec's seed-0 murmur3, see IcebergBucketExpr). A NULL tuple slot is
      * NOT "no constraint": every supported transform preserves null, so it
      * scopes the delete to the `source IS NULL` partition. Only a `void`
      * transform (or a field absent from the tuple) carries no constraint.
      * Anything not cleanly resolvable rejects loudly — scoping silently
      * widened to the whole table would delete rows from other partitions. */
    def eqScope(df: GenericRecord): Seq[ScopeField] =
      opt(df, "partition").map(_.asInstanceOf[GenericRecord]) match {
        case None => Nil
        case Some(pt) =>
          pt.getSchema.getFields.asScala.toSeq.flatMap { f =>
            val (transform, srcCol) = specFields.getOrElse(f.name(),
              throw IcebergReadException(
                s"equality delete carries partition field `${f.name()}` not in any " +
                  "known partition spec; use an iceberg connector jar"))
            if (transform == "__ambiguous__") throw IcebergReadException(
              s"partition field `${f.name()}` carries conflicting definitions " +
                "across partition specs — delete scope is ambiguous; use an " +
                "iceberg connector jar")
            if (transform == "void") None
            else {
              if (!SupportedScopeTransforms.exists(transform.matches)) throw IcebergReadException(
                s"equality delete scoped by partition transform `$transform` — not " +
                  "implemented; use an iceberg connector jar")
              val col = srcCol.getOrElse(throw IcebergReadException(
                s"partition field `${f.name()}` has no resolvable source column"))
              val value: Any = pt.get(f.pos()) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case n: java.lang.Integer => n
                case n: java.lang.Long => n
                case n: java.lang.Float => n
                case n: java.lang.Double => n
                case b: java.lang.Boolean => b
                case other => throw IcebergReadException(
                  s"unsupported partition value type ${other.getClass.getSimpleName} " +
                    "for equality-delete scoping; use an iceberg connector jar")
              }
              Some(ScopeField(col, transform, value))
            }
          }
      }

    final case class FileRef(path: String, seq: Long, bytes: Long,
        stats: Option[LogFileIndex.FileStats] = None,
        tuple: Map[String, AnyRef] = Map.empty,
        // v3 row lineage: the file's explicit first_row_id (default row
        // ids are first_row_id + row position)
        firstRowId: Option[Long] = None)

    // field id → (column name, iceberg type text) for top-level primitives —
    // the key space of the manifest's lower_bounds/upper_bounds/
    // null_value_counts maps (nested/complex ids are skipped: no pruning)
    val idToPrim: Map[Int, (String, String)] =
      schemaNode.path("fields").elements().asScala
        .filter(_.path("type").isTextual)
        .map(f => f.path("id").asInt() ->
          (f.path("name").asText().toLowerCase, f.path("type").asText()))
        .toMap

    // manifest map fields arrive as Avro array-of-{key,value} records (the
    // spec's int-keyed maps) or as plain Avro maps (string keys)
    def kvPairs(v: AnyRef): Seq[(Int, AnyRef)] = v match {
      case null => Nil
      case l: java.util.List[_] => l.asScala.toSeq.flatMap {
        case r: GenericRecord =>
          (Option(r.get("key")), Option(r.get("value"))) match {
            case (Some(k: Number), Some(value)) => Some(k.intValue() -> value)
            case _ => None
          }
        case _ => None
      }
      case m: java.util.Map[_, _] => m.asScala.toSeq.flatMap { case (k, value) =>
        try Some(k.toString.toInt -> value.asInstanceOf[AnyRef])
        catch { case _: NumberFormatException => None }
      }
      case _ => Nil
    }
    def byteArray(v: AnyRef): Option[Array[Byte]] = v match {
      case b: java.nio.ByteBuffer =>
        val d = b.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); Some(a)
      case a: Array[Byte] => Some(a)
      case f: org.apache.avro.generic.GenericFixed => Some(f.bytes())
      case _ => None
    }
    def boundsMap(v: AnyRef): Map[String, Any] =
      kvPairs(v).flatMap { case (id, raw) =>
        for {
          (name, typeText) <- idToPrim.get(id)
          bytes <- byteArray(raw)
          value <- decodeBound(bytes, typeText)
        } yield name -> value
      }.toMap
    /** Manifest-entry column statistics → the shared pruning model (the
      * same skipping fuel Iceberg's own planner burns: spec "Manifests",
      * lower_bounds/upper_bounds/null_value_counts). */
    def statsOf(df: GenericRecord): Option[LogFileIndex.FileStats] = {
      val lower = boundsMap(opt(df, "lower_bounds").orNull)
      val upper = boundsMap(opt(df, "upper_bounds").orNull)
      val nulls = kvPairs(opt(df, "null_value_counts").orNull).flatMap {
        case (id, n: Number) => idToPrim.get(id).map(_._1 -> n.longValue())
        case _ => None
      }.toMap
      if (lower.isEmpty && upper.isEmpty && nulls.isEmpty) None
      else Some(LogFileIndex.FileStats(
        opt(df, "record_count").map(_.asInstanceOf[Long]), lower, upper, nulls))
    }
    /** V3 puffin deletion vector: blob location + the data file it covers.
      * `cardinality` = the entry's record_count (the spec stores the DV's
      * deleted-position count there) — the broadcast-sizing signal, since
      * decoded positions dwarf the compressed blob bytes. */
    final case class DvRef(puffinPath: String, offset: Long, size: Long,
        dataFile: String, cardinality: Long)
    val dataFiles = Seq.newBuilder[FileRef]
    val posDeletes = Seq.newBuilder[FileRef]
    val eqDeletes = Seq.newBuilder[(FileRef, Seq[Int], Seq[ScopeField])]
    val dvRefs = Seq.newBuilder[DvRef]
    walkRefs.iterator.flatMap(snap.entries).filter(_.live).foreach { entry =>
      val df = entry.file
      val content = entry.content
      val fmt = entry.format
      val isPuffinDv = content == 1 && fmt.equalsIgnoreCase("puffin")
      if (!fmt.equalsIgnoreCase("parquet") && !isPuffinDv) throw IcebergReadException(
        s"file format `$fmt` unsupported for content=$content " +
          "(parquet data/delete files and puffin deletion vectors only)")
      val bytes = opt(df, "file_size_in_bytes").map(_.asInstanceOf[Long]).getOrElse(0L)
      val ref = FileRef(entry.path, entry.seq, bytes)
      content match {
        case 1 if isPuffinDv =>
          // v3 deletion vector (spec "Position Delete Vectors"): the
          // manifest carries the blob's offset/length so no puffin
          // footer parse is needed; a DV applies to EXACTLY its
          // referenced data file (no sequence comparison — it replaces
          // that file's delete state). Missing fields reject loudly.
          def need(f: String): AnyRef = opt(df, f).getOrElse(throw IcebergReadException(
            s"puffin deletion vector entry lacks `$f` — cannot locate the " +
              "blob; use an iceberg connector jar"))
          dvRefs += DvRef(ref.path,
            need("content_offset").asInstanceOf[Long],
            need("content_size_in_bytes").asInstanceOf[Long],
            snap.resolve(need("referenced_data_file").toString).toString,
            entry.recordCount)
        case 0 =>
          // keep the r102 partition tuple: identity values in it are
          // authoritative (spec) — served as partition columns when the
          // data files don't physically carry them (migrated tables)
          dataFiles += ref.copy(stats = statsOf(df), tuple = entry.tuple,
            firstRowId = opt(df, "first_row_id")
              .map(_.asInstanceOf[Number].longValue()))
        case 1 => posDeletes += ref // scope unnecessary: keyed by exact file path
        case 2 =>
          val ids = opt(df, "equality_ids").orNull match {
            case l: java.util.List[_] =>
              l.asScala.map(x => x.asInstanceOf[Number].intValue()).toSeq
            case _ => throw IcebergReadException(
              "equality delete file lists no equality_ids")
          }
          eqDeletes += ((ref, ids, eqScope(df)))
        case c => throw IcebergReadException(s"unknown data_file content=$c")
      }
    }
    val (dataAll, pos, eqs, dvs) =
      (dataFiles.result(), posDeletes.result(), eqDeletes.result(), dvRefs.result())

    // INCREMENTAL READ: `changes_since_snapshot = S` keeps only data files
    // live at the end snapshot but NOT live at snapshot S — a pure
    // metadata set-diff (the same manifest walk, paths only), so "what
    // landed since yesterday's snapshot" costs two driver-side manifest
    // reads and no data scan beyond the new files. Row-level deletes of
    // the END snapshot still apply to the surviving files.
    val data: Seq[FileRef] = incrementalBase match {
      case None => dataAll
      case Some((_, baseRefs)) =>
        // dataAll already holds only end-only-manifest files (walkRefs); a
        // manifest REWRITE (compaction/merge) can re-list OLD data files in
        // a new manifest as EXISTING entries, so subtract the files of the
        // BASE-ONLY manifests — zero extra reads in the steady append case
        // (base-only is empty when every base manifest carried forward).
        val endPaths = manifestRefs.map(_.file).toSet
        val basePaths: Set[String] = baseRefs.filterNot(m => endPaths.contains(m.file))
          .flatMap(snap.entries).filter(e => e.live && e.content == 0).map(_.path).toSet
        dataAll.filterNot(f => basePaths.contains(f.path))
    }

    // Field-id resolution (the spec's rule; survives column renames): if the
    // data files carry parquet field ids — every iceberg-written file does —
    // read with id metadata and Spark's fieldId matching. Hand-assembled
    // id-less files (this repo's fixtures) keep name resolution, so the
    // ignoreMissing trap never arms. One bounded footer probe per file kind.
    def hasFieldIds(path: String): Boolean = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try r.getFooter.getFileMetaData.getSchema.getFields.asScala.exists(_.getId != null)
      finally r.close()
    }
    // mixed id/id-less files (add_files/migrate imports next to native
    // writes) can neither resolve by id (id-less files would fail or
    // silently null) nor safely by name (renames) — reject loudly. A
    // deterministic evenly-spaced sample of min(8, n) footers catches
    // interleaved histories head+last probing missed, still O(1) probes.
    // Applies to DATA files and to each equality-DELETE file group alike.
    def sampledIdProbe(paths: Seq[String], what: String): Boolean = {
      val n = paths.length
      val k = math.min(8, n)
      val idxs = (0 until k)
        .map(i => if (k == 1) 0 else (i.toLong * (n - 1) / (k - 1)).toInt).distinct
      val probes = idxs.map(i => hasFieldIds(paths(i)))
      if (probes.distinct.size > 1) throw IcebergReadException(
        s"`$root`: $what mix parquet field-id presence (some carry ids, " +
          "some do not) — id resolution is ambiguous; use an iceberg connector jar")
      probes.head
    }
    // One footer probe per sampled data file answers BOTH questions: field
    // ids present, and which top-level columns physically exist (the
    // identity-partition serving decision below).
    def footerTop(path: String): (Boolean, Set[String]) = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
      try {
        val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
        (fields.exists(_.getId != null), fields.map(_.getName).toSet)
      } finally r.close()
    }
    val dataProbes: Seq[(Boolean, Set[String])] =
      if (data.isEmpty) Nil
      else {
        val n = data.length
        val k = math.min(8, n)
        (0 until k).map(i => if (k == 1) 0 else (i.toLong * (n - 1) / (k - 1)).toInt)
          .distinct.map(i => footerTop(data(i).path))
      }
    val useFieldIds = data.nonEmpty && {
      val probes = dataProbes.map(_._1)
      if (probes.distinct.size > 1) throw IcebergReadException(
        s"`$root`: data files mix parquet field-id presence (some carry ids, " +
          "some do not) — id resolution is ambiguous; use an iceberg connector jar")
      probes.head
    }

    // Identity partition columns serve from the manifest's r102 tuple
    // whenever they can: the spec makes the tuple authoritative for
    // identity transforms (every row in the file carries exactly the
    // tuple's value — Iceberg's own readers fill these columns from the
    // task's constants map, never the parquet pages). Serving them as
    // typed PARTITION columns through the FileIndex buys three things a
    // 100 TB star schema needs: plan-time partition pruning, RUNTIME
    // partition pruning (Spark's PartitionPruning rule fires only on
    // relations with a partition schema), and one fewer parquet column
    // decoded per row. Columns the tuple can't serve (unservable type, or
    // a spec-evolution gap where some manifests lack the field) read from
    // the data files as before — unless the files don't carry them either,
    // which rejects loudly (hive-migrated tables with exotic types).
    val servedIdentity: Seq[(String, String)] = // (tuple field, column name)
      if (data.isEmpty) Nil
      else specFields.toSeq.collect {
        case (fname, ("identity", Some(src))) => (fname, src)
      }.filter { case (fname, src) =>
        val typeOk = schema(src).dataType match {
          case IntegerType | LongType | StringType | BooleanType |
               ShortType | ByteType | DateType => true
          case _ => false
        }
        val tupleOk = data.forall(_.tuple.contains(fname))
        if (typeOk && tupleOk) true
        else {
          val present = dataProbes.map(_._2.contains(src)).distinct
          if (present.size > 1) throw IcebergReadException(
            s"`$root`: identity partition column `$src` exists in some data files " +
              "but not others — cannot serve it consistently; rewrite the old " +
              "files or use an iceberg connector jar")
          if (!present.head) {
            if (!typeOk) throw IcebergReadException(
              s"`$root`: identity partition column `$src` " +
                s"(${schema(src).dataType.simpleString}) " +
                "is not in the data files and its type cannot be served from the " +
                "partition tuple (int/long/string/boolean/date only); use an " +
                "iceberg connector jar")
            throw IcebergReadException(
              s"`$root`: identity partition field `$fname` is missing from some " +
                "manifests' partition tuples (partition evolution?) while the " +
                "column is absent from the data files — cannot serve it")
          }
          false // present in every file, tuple can't serve → read from files
        }
      }
    /** r102 value → the string LogFileIndex casts to the column type. */
    def tupleString(v: AnyRef, dt: DataType): String = v match {
      case null => null
      case _ => dt match {
        case DateType =>
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue()).toString
        case _ => v.toString
      }
    }
    // field-id matching needs spark.sql.parquet.fieldId.read.enabled, which
    // Spark consults at PLAN time — flipping it here would silently mutate
    // the session for every later parquet read. Engine.configure sets it;
    // a session built elsewhere must opt in, so fail fast instead.
    val readSchema =
      if (useFieldIds) {
        if (!spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false").toBoolean)
          throw IcebergReadException(
            s"`$root`: this table's files resolve by parquet field id, which needs " +
              "spark.sql.parquet.fieldId.read.enabled=true on the session " +
              "(graft.engine.Engine.configure sets it); set it and re-read")
        toStruct(schemaNode, withFieldIds = true, timeAsLong = true)
      } else schema

    // The r102 partition tuple is SKIPPING FUEL too (the rest of what
    // Iceberg's own planner burns): an identity tuple pins an exact
    // min=max for its source column, and the temporal/truncate transforms
    // pin the source-value INTERVAL the tuple covers (day d → micros
    // [d·86400e6, (d+1)·86400e6)). Derived bounds feed the SAME FileStats
    // pruning model as the manifest column bounds — crucial for tables
    // written with column metrics disabled (write.metadata.metrics.default
    // = none), where tuples are the only per-file statistics. Values are
    // normalized exactly as decodeBound normalizes manifest bounds
    // (int/date → Long days, timestamp → Long micros, string, boolean),
    // so the comparator semantics are shared. Bucket tuples carry no
    // source-range information and contribute nothing.
    val primTypeOf: Map[String, String] = schemaNode.path("fields").elements().asScala
      .collect { case f if f.path("type").isTextual =>
        f.path("name").asText() -> f.path("type").asText() }.toMap
    def tupleDerivedBounds(f: FileRef): (Map[String, Any], Map[String, Any]) = {
      val mins = Map.newBuilder[String, Any]
      val maxs = Map.newBuilder[String, Any]
      val bucketRe = """bucket\[(\d+)\]""".r
      val truncRe = """truncate\[(\d+)\]""".r
      val epoch = java.time.LocalDate.ofEpochDay(0)
      specFields.foreach { case (fname, (transform, srcOpt)) =>
        for {
          src <- srcOpt
          typeText <- primTypeOf.get(src)
          raw <- f.tuple.get(fname)
          if raw != null
        } {
          def num = raw.asInstanceOf[Number].longValue()
          val micros = typeText == "timestamp" || typeText == "timestamptz"
          val days = typeText == "date"
          def put(lo: Any, hi: Any): Unit = { mins += src -> lo; maxs += src -> hi }
          def interval(start: java.time.LocalDate, end: java.time.LocalDate): Unit =
            if (days) put(start.toEpochDay, end.toEpochDay - 1L)
            else if (micros) put(start.toEpochDay * 86400000000L,
              end.toEpochDay * 86400000000L - 1L)
          transform match {
            case "identity" => typeText match {
              case "int" | "date" | "long" | "timestamp" | "timestamptz" =>
                put(num, num)
              case "string" => val s0 = raw.toString; put(s0, s0)
              case "boolean" => val b = raw.asInstanceOf[Boolean]; put(b, b)
              case _ => ()
            }
            case "day" | "days" if days || micros =>
              interval(epoch.plusDays(num), epoch.plusDays(num + 1))
            case "month" | "months" if days || micros =>
              interval(epoch.plusMonths(num), epoch.plusMonths(num + 1))
            case "year" | "years" if days || micros =>
              interval(epoch.plusYears(num), epoch.plusYears(num + 1))
            case "hour" | "hours" if micros =>
              put(num * 3600000000L, (num + 1) * 3600000000L - 1L)
            case truncRe(w) => typeText match {
              case "int" | "long" => put(num, num + w.toLong - 1L)
              case "string" => mins += src -> raw.toString // open above
              case _ => ()
            }
            case bucketRe(_) => () // hash tuple: no source range
            case _ => ()
          }
        }
      }
      (mins.result(), maxs.result())
    }
    def statsWithTupleBounds(f: FileRef): Option[LogFileIndex.FileStats] = {
      val (tMin, tMax) = tupleDerivedBounds(f)
      f.stats match {
        case Some(s) => // manifest column bounds are at least as tight: they win
          Some(s.copy(min = tMin ++ s.min, max = tMax ++ s.max))
        case None if tMin.nonEmpty || tMax.nonEmpty =>
          Some(LogFileIndex.FileStats(None, tMin, tMax, Map.empty))
        case None => None
      }
    }

    // V3 ROW LINEAGE read (`row_lineage=true`): append `_row_id` and
    // `_last_updated_sequence_number` per the spec — materialized value
    // when a moved row's file carries it, else first_row_id + row position
    // / the file's data sequence. Per-file lineage pairs broadcast-join
    // the scan (one tiny hash join + a codegen projection, no extra pass).
    val withLineage = options.get("row_lineage").exists(_.toBoolean)
    val RowIdCol = "_row_id"
    val LastSeqCol = "_last_updated_sequence_number"
    if (withLineage) {
      if (!meta.has("next-row-id")) throw IcebergReadException(
        s"`$root`: row_lineage=true but the table metadata carries no " +
          "next-row-id — not a row-lineage (v3) table")
      data.find(_.firstRowId.isEmpty).foreach { f =>
        throw IcebergReadException(
          s"`$root`: row_lineage=true but live file `${f.path}` has no " +
            "first_row_id in its manifest entry — a non-lineage writer " +
            "touched this table; row ids cannot be served")
      }
    }
    // the reserved field ids (spec "Reserved Field IDs") ride along so
    // field-id-resolving reads find the materialized columns after renames
    val lineageFields = Seq(
      StructField(RowIdCol, LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 2147483540L).build()),
      StructField(LastSeqCol, LongType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id", 2147483539L).build()))

    // Data scan through the manifest-backed FileIndex: per-file
    // lower/upper bounds + null counts prune files at PLAN time against the
    // pushed filters (the skipping Iceberg's own planner does), and
    // sizeInBytes reports the manifests' true byte count. Iceberg data
    // files are identity-complete (partition columns live in the files), so
    // the partition schema is empty and pruning rides the stats — manifest
    // column bounds plus the tuple-derived bounds above.
    def indexedScan(files: Seq[FileRef], rowsExact: Boolean = false): DataFrame = {
      val entries = files.map { f =>
        new LogFileIndex.IndexedFile(
          f.path,
          // manifests must carry accurate sizes (split planning trusts
          // them); below the 12-byte parquet minimum → one driver stat
          if (f.bytes >= 12) f.bytes
          else fs.getFileStatus(new Path(f.path)).getLen,
          0L,
          servedIdentity.map { case (fname, src) =>
            src -> tupleString(f.tuple.getOrElse(fname, null), schema(src).dataType)
          }.toMap,
          () => statsWithTupleBounds(f))
      }
      // tuple-served identity columns become true partition columns of the
      // relation (typed via Cast in the index); the file-read schema drops
      // them — the files don't carry those columns
      val servedNames = servedIdentity.map(_._2).toSet
      val partSchema = StructType(servedIdentity.map { case (_, src) =>
        readSchema(readSchema.fieldIndex(src)).copy(nullable = true)
      })
      // lineage reads also pull the materialized reserved columns — files
      // that never moved simply lack them and read as null (exactly the
      // rows whose default arithmetic applies)
      val dataSchema =
        StructType(readSchema.fields.filterNot(f => servedNames.contains(f.name)) ++
          (if (withLineage) lineageFields else Nil))
      // rowsExact only on the no-deletes read: manifest record_count/bounds
      // then describe exactly what the scan returns → metadata aggregates
      val index = new LogFileIndex(spark, rootPath, entries, partSchema, rowsExact)
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, partSchema, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      spark.baseRelationToDataFrame(relation)
    }

    // `time` columns surface as TimestampNTZ on the epoch date (the SURVEY
    // §7 mapping): pure integer decomposition of the micros-of-day long —
    // no session-timezone dependence anywhere. Runs ABOVE deletes/scoping,
    // which all operate on the exact underlying long.
    val timeCols = schema.fields.collect {
      case f if f.metadata.contains(TimeMarker) => f.name
    }.toSet
    def surfaceTimes(df: DataFrame): DataFrame =
      if (timeCols.isEmpty) df
      else {
        import org.apache.spark.sql.functions.{call_function, col, lit}
        // preserve every column (lineage reads append _row_id/_last_…)
        df.select(df.columns.map { n =>
          if (!timeCols.contains(n)) col(n)
          else {
            val c = col(n)
            call_function("make_timestamp_ntz",
              lit(1970), lit(1), lit(1),
              (c / 3600000000L).cast("int"),
              (c % 3600000000L / 60000000L).cast("int"),
              (c % 60000000L).cast("double") / 1e6).as(n)
          }
        }.toSeq: _*)
      }
    val outNames: Seq[String] =
      schema.fieldNames.toSeq ++ (if (withLineage) Seq(RowIdCol, LastSeqCol) else Nil)

    surfaceTimes(if (data.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema.fields ++ (if (withLineage) lineageFields else Nil)))
    else if (pos.isEmpty && eqs.isEmpty && dvs.isEmpty) {
      import org.apache.spark.sql.functions.{broadcast, coalesce, col}
      val scanned = indexedScan(data, rowsExact = !withLineage)
      if (!withLineage) {
        // partition columns append last; restore the declared order
        if (servedIdentity.isEmpty) scanned
        else scanned.select(schema.fieldNames.map(col).toSeq: _*)
      } else {
        import spark.implicits._
        val lookup = data.map(f =>
          (PathKeys.key(f.path), f.firstRowId.get, f.seq))
          .toDF("__rlk", "__rlbase", "__rlfseq")
        scanned
          .withColumn("__rlk", PathKeys.keyCol(col("_metadata.file_path")))
          .withColumn("__rlpos", col("_metadata.row_index"))
          .join(broadcast(lookup), Seq("__rlk"), "left")
          .withColumn(RowIdCol, coalesce(col(RowIdCol), col("__rlbase") + col("__rlpos")))
          .withColumn(LastSeqCol, coalesce(col(LastSeqCol), col("__rlfseq")))
          .select(outNames.map(col): _*)
      }
    }
    else {
      // --- v2 row-level deletes, Spark-first: deletes are DATA, not driver
      // work. Positional deletes anti-join on (file path, row position) via
      // the _metadata columns; equality deletes anti-join on their equality
      // columns. Sequence-number semantics per the spec: positional deletes
      // apply to data sequence <= delete sequence, equality deletes to data
      // sequence < delete sequence. Per-file sequences ride broadcast
      // lookups (file lists are manifest-scale); a delete side under 64 MB
      // (manifest-reported bytes) is broadcast, larger sets shuffle — both
      // shapes survive a 100 TB table. ---
      import spark.implicits._
      import org.apache.spark.sql.functions.{array_sort, broadcast, col, map_entries}
      def norm(c: org.apache.spark.sql.Column) = PathKeys.keyCol(c)
      def uriPath(p: String) = PathKeys.key(p)
      def capped(df: DataFrame, bytes: Long) =
        if (bytes <= 64L * 1024 * 1024) broadcast(df) else df

      val seqLookup = data.map(f => (uriPath(f.path), f.seq)).toDF("__if", "__iseq")
      var cur = indexedScan(data)
        .withColumn("__if", norm(col("_metadata.file_path")))
        .withColumn("__ipos", col("_metadata.row_index"))
        .join(broadcast(seqLookup), Seq("__if"), "left")

      if (dvs.nonEmpty) {
        // v3 puffin DVs: bitmap decode is DATA work — executors decode the
        // blobs (DeletionVectors.deletedRows, the same machinery the Delta
        // DV path uses; the v3 blob layout is Delta-compatible by design),
        // then the dead (file, position) pairs anti-join the scan. No
        // sequence predicate: a DV names its exact referenced file.
        val tasks = dvs.map(r => DeletionVectors.Task(
          uriPath(r.dataFile), "puffin", "", r.puffinPath, r.offset,
          (r.size - 8).toInt, "puffin")) // blob = 4B len + payload + 4B crc
        val dead = DeletionVectors.deletedRows(spark, tasks)
        // size by DECODED positions (~16 B each), not compressed blob bytes
        val deadB = capped(dead, dvs.map(_.cardinality).sum * 16)
        cur = cur.join(deadB,
          cur("__if") === deadB("__dv_file") && cur("__ipos") === deadB("__dv_pos"),
          "left_anti")
      }

      if (pos.nonEmpty) {
        // ONE scan of all positional delete files; per-file sequence joined in
        val pLookup = pos.map(f => (uriPath(f.path), f.seq)).toDF("__pf", "__dseq")
        val del = spark.read.parquet(pos.map(_.path): _*)
          .select(norm(col("file_path")).as("__df"), col("pos").cast("long").as("__dpos"),
            norm(col("_metadata.file_path")).as("__pf"))
          .join(broadcast(pLookup), Seq("__pf"), "left").drop("__pf")
        val delB = capped(del, pos.map(_.bytes).sum)
        cur = cur.join(delB,
          cur("__if") === delB("__df") && cur("__ipos") === delB("__dpos") &&
            cur("__iseq") <= delB("__dseq"),
          "left_anti")
      }

      // one scope predicate per partition-tuple field, recomputing the
      // transform on the data side (closed-form per the spec). A null
      // stored value scopes to the NULL partition — every supported
      // transform preserves null, so `source IS NULL` is exact.
      def scopePredicate(cur: DataFrame, sf: ScopeField): org.apache.spark.sql.Column = {
        import org.apache.spark.sql.functions.{date_add, datediff, expr, lit, month, pmod, substring, unix_micros, year}
        val src = cur(sf.col)
        val dt = schema(sf.col).dataType
        val quotedCol = "`" + sf.col.replace("`", "``") + "`"
        def floorDiv(c: org.apache.spark.sql.Column, d: Long) =
          ((c - pmod(c, lit(d))) / lit(d)).cast("long")
        // Iceberg timestamp transforms are defined in UTC; Spark's year()/
        // month() evaluate in the session timezone. Recover the UTC calendar
        // date from the absolute instant (unix_micros is TZ-independent) so
        // the scope is correct under any spark.sql.session.timeZone.
        def utcDate(ts: org.apache.spark.sql.Column) =
          date_add(lit(java.sql.Date.valueOf("1970-01-01")),
            floorDiv(unix_micros(ts), 86400000000L).cast("int"))
        def unsupported() = throw IcebergReadException(
          s"equality-delete scope transform `${sf.transform}` over ${dt.simpleString} " +
            s"column `${sf.col}` is not implemented; use an iceberg connector jar")
        val bucketRe = """bucket\[(\d+)\]""".r
        val truncRe = """truncate\[(\d+)\]""".r
        if (sf.value == null) src.isNull
        else sf.transform match {
          // identity tuples store temporals in the spec's numeric encoding
          // (date = int epoch days, timestamp = long micros) — decode before
          // comparing against the typed source column
          case "identity" => dt match {
            case DateType =>
              src <=> lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
                sf.value.asInstanceOf[Number].longValue())))
            case TimestampType | TimestampNTZType =>
              val micros = sf.value.asInstanceOf[Number].longValue()
              src.cast(TimestampType) <=> lit(java.sql.Timestamp.from(
                java.time.Instant.EPOCH.plus(micros, java.time.temporal.ChronoUnit.MICROS)))
            case _ => src <=> lit(sf.value)
          }
          case bucketRe(n) => dt match {
            case IntegerType | LongType | DateType | TimestampType | StringType =>
              expr(s"iceberg_bucket($quotedCol, $n)") === lit(sf.value)
            case _ => unsupported()
          }
          case truncRe(w) => dt match {
            case IntegerType | LongType => (src - pmod(src, lit(w.toLong))) === lit(sf.value)
            case StringType => substring(src, 1, w.toInt) === lit(sf.value)
            case _ => unsupported()
          }
          case "year" | "years" => dt match {
            case DateType => (year(src) - lit(1970)) === lit(sf.value)
            case TimestampType => (year(utcDate(src)) - lit(1970)) === lit(sf.value)
            case _ => unsupported()
          }
          case "month" | "months" => dt match {
            case DateType =>
              ((year(src) - lit(1970)) * lit(12) + month(src) - lit(1)) === lit(sf.value)
            case TimestampType =>
              ((year(utcDate(src)) - lit(1970)) * lit(12) + month(utcDate(src)) - lit(1)) === lit(sf.value)
            case _ => unsupported()
          }
          case "day" | "days" => dt match {
            case DateType =>
              datediff(src, lit(java.sql.Date.valueOf("1970-01-01"))) === lit(sf.value)
            case TimestampType =>
              floorDiv(unix_micros(src), 86400000000L) === lit(sf.value)
            case _ => unsupported()
          }
          case "hour" | "hours" => dt match {
            case TimestampType => floorDiv(unix_micros(src), 3600000000L) === lit(sf.value)
            case _ => unsupported()
          }
          case _ => unsupported() // unreachable: eqScope validated the name
        }
      }

      // equality deletes group by (equality_ids set, partition scope) — one
      // anti-join per distinct combination; null-safe equality (a null
      // deletes a null), scope fields as extra predicates on the data side
      // Prune a schema to the referenced paths: partially-referenced structs
      // keep only the referenced subfields (the spec's projected-table-schema
      // layout for equality delete files); a path ending AT a struct keeps
      // the whole struct (whole-struct equality). Delete columns are always
      // nullable — a null deletes a null.
      def pruneTo(st: StructType, paths: Seq[Seq[String]]): StructType = {
        val byHead = paths.filter(_.nonEmpty).groupBy(_.head)
        StructType(st.fields.flatMap { f =>
          byHead.get(f.name).map { ps =>
            val rest = ps.map(_.tail).filter(_.nonEmpty)
            val dt = f.dataType match {
              case s: StructType if rest.nonEmpty && rest.size == ps.size =>
                pruneTo(s, rest)
              case other => other
            }
            StructField(f.name, dt, nullable = true, metadata = f.metadata)
          }
        })
      }
      lazy val fullIdSchema = toStruct(schemaNode, withFieldIds = true, timeAsLong = true)
      eqs.groupBy(g => (g._2, g._3)).foreach { case ((ids, scope), group) =>
        // ids resolve to access paths — top-level columns or struct
        // subfields (a.b.c). Ids inside list/map element types stay
        // unaddressable and reject loudly.
        val paths = ids.map(id => idToPath.getOrElse(id, throw IcebergReadException(
          s"equality delete references field id $id that is neither a column nor " +
            "a struct subfield of the table schema. Ids INSIDE list/map element " +
            "types cannot address a row (the spec's nested-column rule: delete " +
            "columns may nest in structs but not in maps or lists) — such a " +
            "delete file is malformed. Whole-LIST-typed and whole-MAP-typed " +
            "delete columns (the container column's OWN id) ARE supported")))
        val eLookup = group.map { case (f, _, _) => (uriPath(f.path), f.seq) }.toDF("__ef", "__dseq")
        // delete-file columns resolve by field id too when the files carry
        // ids (a renamed table's older delete files store the OLD names);
        // types come from the table schema, never re-inferred. The probe
        // samples the whole group — one id-less import among id-carrying
        // files would otherwise resolve to silent nulls
        val delHasIds = sampledIdProbe(group.map(_._1.path), "equality-delete files")
        val delSchema = pruneTo(if (delHasIds) fullIdSchema else schema, paths)
        val aliases = paths.indices.map(i => s"__eq_$i")
        def pathCol(root: org.apache.spark.sql.Column, p: Seq[String]) =
          p.tail.foldLeft(root)(_.getField(_))
        val delRead = spark.read.schema(delSchema).parquet(group.map(_._1.path): _*)
        val del = delRead
          .withColumn("__ef", norm(col("_metadata.file_path")))
          .join(broadcast(eLookup), Seq("__ef"), "left")
          .select(paths.zip(aliases).map { case (p, a) =>
            pathCol(delRead(p.head), p).as(a)
          } :+ col("__dseq"): _*)
        val delB = capped(del, group.map(_._1.bytes).sum)
        val scopeCond = scope.map(sf => scopePredicate(cur, sf))
        // Whole-MAP equality: Spark cannot compare MapType directly, so both
        // sides canonicalize to array_sort(map_entries(m)) — key-sorted
        // entry arrays. Map keys are unique, so sorted-entry equality IS
        // key/value-set equality (insertion order never matters, matching
        // how engines define map equality). Maps nested anywhere INSIDE the
        // key/value types stay unorderable → loud reject.
        def typeAt(st: StructType, p: Seq[String]): DataType =
          st(p.head).dataType match {
            case s: StructType if p.tail.nonEmpty => typeAt(s, p.tail)
            case dt => dt
          }
        def hasMap(dt: DataType): Boolean = dt match {
          case _: MapType => true
          case ArrayType(e, _) => hasMap(e)
          case s: StructType => s.fields.exists(f => hasMap(f.dataType))
          case _ => false
        }
        def canon(c: org.apache.spark.sql.Column, dt: DataType) = dt match {
          case MapType(k, v, _) =>
            if (hasMap(k) || hasMap(v)) throw IcebergReadException(
              "equality delete on a map column whose key or value type itself " +
                "contains a map is not orderable and cannot be canonicalized — " +
                "unsupported; flatten the nested map or delete by another column")
            array_sort(map_entries(c))
          case _ => c
        }
        val cond = (paths.zip(aliases).map { case (p, a) =>
          val dt = typeAt(schema, p)
          canon(pathCol(cur(p.head), p), dt) <=> canon(delB(a), dt)
        } ++ scopeCond).reduce(_ && _) && cur("__iseq") < delB("__dseq")
        cur = cur.join(delB, cond, "left_anti")
      }
      if (withLineage) {
        // `cur` already carries __if (path key), __ipos (row position) and
        // __iseq (the file's data sequence) — lineage needs only the
        // per-file base join; DV/positional survivors keep their original
        // positions, so default arithmetic stays exact under deletes
        import org.apache.spark.sql.functions.coalesce
        val baseLookup = data.map(f => (uriPath(f.path), f.firstRowId.get))
          .toDF("__rlf", "__rlbase")
        cur = cur.join(broadcast(baseLookup),
          cur("__if") === col("__rlf"), "left")
          .withColumn(RowIdCol, coalesce(col(RowIdCol), col("__rlbase") + col("__ipos")))
          .withColumn(LastSeqCol, coalesce(col(LastSeqCol), col("__iseq")))
      }
      cur.select(outNames.map(col): _*)
    })
  }

  /** Iceberg schema JSON → Spark StructType (primitives + struct/list/map).
    * With `withFieldIds`, every field carries `parquet.field.id` metadata so
    * Spark's parquet reader resolves columns by FIELD ID instead of name —
    * the Iceberg spec's resolution rule, which survives column renames
    * (a name-based read of a renamed column silently returns nulls).
    *
    * With `timeAsLong`, TOP-LEVEL `time` columns map to LongType (Spark's
    * parquet reader decodes an INT64 TIME(MICROS) column as a plain long
    * when the requested type is long — Spark 4.1's TimeType is still
    * blocked at the datasource layer) plus a marker the read path uses to
    * surface the column as TimestampNTZ-on-epoch-date; deletes, bounds and
    * partition scoping all run on the exact micros-of-day long underneath.
    * `time` NESTED inside struct/list/map still rejects loudly. */
  private[graft] val TimeMarker = "graft.iceberg.time"
  private[graft] def toStruct(node: JsonNode, withFieldIds: Boolean = false,
      timeAsLong: Boolean = false): StructType =
    StructType(node.path("fields").elements().asScala.map { f =>
      val mb = new MetadataBuilder()
      if (withFieldIds && f.has("id"))
        mb.putLong("parquet.field.id", f.path("id").asLong())
      val isTime = timeAsLong && f.path("type").isTextual &&
        f.path("type").asText() == "time"
      if (isTime) mb.putBoolean(TimeMarker, true)
      val dt = if (isTime) LongType else toSpark(f.path("type"), withFieldIds)
      StructField(f.path("name").asText(), dt,
        nullable = !f.path("required").asBoolean(false), metadata = mb.build())
    }.toSeq)

  private val decimalRe = """decimal\((\d+),\s*(\d+)\)""".r

  /** Iceberg single-value serialization (spec Appendix D: bounds are
    * little-endian primitives, UTF-8 strings, big-endian unscaled decimals)
    * → the LogFileIndex compare domain. Unknown or malformed bytes decode
    * to None — that column simply never prunes. */
  private[graft] def decodeBound(bytes: Array[Byte], typeText: String): Option[Any] = {
    def le = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    try typeText match {
      case "int" | "date" if bytes.length == 4 => Some(le.getInt.toLong)
      case "long" | "timestamp" | "timestamptz" | "time" if bytes.length == 8 => Some(le.getLong)
      case "float" if bytes.length == 4 => Some(le.getFloat.toDouble)
      case "double" if bytes.length == 8 => Some(le.getDouble)
      case "string" => Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
      case "boolean" if bytes.length == 1 => Some(bytes(0) != 0)
      case decimalRe(_, s) =>
        Some(new java.math.BigDecimal(new java.math.BigInteger(bytes), s.toInt))
      case _ => None
    } catch { case _: Exception => None }
  }
  private val fixedRe = """fixed\[(\d+)\]""".r

  private def toSpark(t: JsonNode, withFieldIds: Boolean = false): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "string" => StringType
      case "uuid" => StringType
      case "binary" => BinaryType
      case decimalRe(p, s) => DecimalType(p.toInt, s.toInt)
      case fixedRe(_) => BinaryType
      case "time" => throw IcebergReadException(
        "Iceberg `time` columns have no Spark analogue; drop or cast the column")
      case other => throw IcebergReadException(s"unsupported Iceberg type `$other`")
    } else t.path("type").asText() match {
      case "struct" => toStruct(t, withFieldIds) // nested renames resolve by id too
      case "list" =>
        ArrayType(toSpark(t.path("element"), withFieldIds),
          containsNull = !t.path("element-required").asBoolean(false))
      case "map" =>
        MapType(toSpark(t.path("key"), withFieldIds), toSpark(t.path("value"), withFieldIds),
          valueContainsNull = !t.path("value-required").asBoolean(false))
      case other => throw IcebergReadException(s"unsupported Iceberg nested type `$other`")
    }
}
