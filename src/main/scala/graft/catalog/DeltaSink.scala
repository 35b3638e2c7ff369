package graft.catalog

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Native DELTA LAKE writer — `COPY (SELECT ...) TO '<root>' (FORMAT
  * delta)` with no delta-spark jar, the write-side mirror of
  * `sources/DeltaNative`. Commit JSON is written per the public protocol
  * (delta.io PROTOCOL.md): create lays down protocol+metaData+adds, append
  * adds, overwrite tombstones every live file and adds. Each `add` carries
  * the TRUE byte size and a `stats` JSON (numRecords + per-column min/max/
  * nullCount read back from the parquet footers this very write produced)
  * — so a later read through the log-backed FileIndex plan-time-prunes the
  * files this writer laid down, write→read closing the skipping loop.
  *
  * Scale shape: the DATA write is a plain distributed
  * `df.write.parquet` (partitioned layouts via partitionBy); everything
  * else is driver metadata — one footer read per written file (the same
  * O(new files) delta-spark pays to collect stats) and one commit JSON.
  *
  * Every statement starts from `sources/DeltaLog.snapshot`, the same log
  * replay the native reader uses: version, schema, configuration, table
  * id, protocol, live files keyed by path, txn ledger and domains.
  *
  * Every statement commits through [[commit]], the one writer of
  * `_delta_log/<v>.json`. Single-writer contract: the commit fails loudly
  * if the target version file already exists (`CommitStore.publish`,
  * exclusive on `file:`) — optimistic-concurrency retry is a coordinator
  * feature this library intentionally leaves to a connector jar. */
object DeltaSink {
  import graft.sources.DeltaLog
  import graft.sources.DeltaLog.{FileEntry, Protocol, Snapshot, physicalName}
  import graft.sources.DeltaNative.DeltaReadException

  private val mapper = new ObjectMapper()

  val validOptions: Set[String] =
    Set("partition_by", "overwrite", "change_data_feed", "compression",
      "max_file_size_rows", "row_tracking")

  /** `txn = Some((appId, version))` makes the commit IDEMPOTENT per the
    * protocol's transaction-identifier rule: the log's highest committed
    * `txn.version` for `appId` is replayed first, and a write at or below
    * it is silently skipped — exactly-once for streaming micro-batch
    * replays (the delta-spark streaming-sink arrangement). */
  def write(df: DataFrame, path: String, options: Map[String, String],
      txn: Option[(String, Long)] = None): Unit = {
    options.keys.find(k => !validOptions.contains(k.toLowerCase)).foreach { k =>
      throw Catalog.InvalidOptionException(
        s"invalid COPY option `$k` for format `delta`; valid options: " +
          validOptions.toSeq.sorted.mkString(", "))
    }
    val spark = df.sparkSession
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val partCols: Seq[String] = options.get("partition_by").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    partCols.find(c => !df.schema.fieldNames.contains(c)).foreach { c =>
      throw Catalog.InvalidOptionException(
        s"partition_by column `$c` is not in the frame's schema")
    }
    val overwrite = options.get("overwrite").exists(_.toBoolean)
    val cdf = options.get("change_data_feed").exists(_.toBoolean)
    val rtOpt = options.get("row_tracking").exists(_.toBoolean)

    // ---- existing-table state (checkpoint + commit JSONs after it) ----
    val st = DeltaLog.snapshot(spark, path)
    val creating = !st.exists
    val tableSchemaJson = st.schemaJson
    val tablePartCols = st.partCols
    val tableConf = st.conf
    val live = st.live
    val txnVersions = st.txnVersions
    // column-mapped tables (mode=name): the frame arrives under LOGICAL
    // names; data files, partition dirs and stats keys carry PHYSICAL
    // names per the protocol — rename before the write. mode=id would
    // additionally need parquet field ids; reject that loudly.
    var dfW = df
    var partColsW = partCols
    var identitySchemaUpdate: Option[StructType] = None
    if (!creating) {
      writerGates(st, path, removesData = overwrite,
        if (overwrite) "overwrite" else "append")
      // generated columns the frame omits are COMPUTED here (delta-spark's
      // write behavior); supplied ones are validated below
      dfW = computeGeneratedColumns(st, dfW)
      val (dfId, idSchema) = applyIdentityColumns(st, dfW, path)
      dfW = dfId
      identitySchemaUpdate = idSchema
      validateIncomingRows(st, dfW, path)
      val cmMode = st.columnMappingMode
      if (cmMode != "none" && cmMode != "name")
        throw DeltaReadException(
          s"`$path`: column mapping mode `$cmMode` needs parquet field ids; " +
            "use a delta connector jar to append")
      val existing = DataType.fromJson(tableSchemaJson.getOrElse(
        throw DeltaReadException(s"`$path`: existing log has no metaData action")))
        .asInstanceOf[StructType]
      val incoming = dfW.schema
      if (existing.fields.map(f => (f.name, f.dataType)).toSeq !=
        incoming.fields.map(f => (f.name, f.dataType)).toSeq)
        throw DeltaReadException(
          s"`$path`: frame schema ${incoming.simpleString} does not match the " +
            s"table's ${existing.simpleString}; this writer does not evolve schemas")
      if (tablePartCols != partCols)
        throw DeltaReadException(
          s"`$path`: partition_by ${partCols.mkString(",")} does not match the " +
            s"table's partitioning ${tablePartCols.mkString(",")}")
      if (cmMode == "name") {
        val physByLogical = existing.fields.map(f => f.name -> physicalName(f)).toMap
        dfW = dfW.select(existing.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name).as(physicalName(f))).toSeq: _*)
        partColsW = partCols.map(c => physByLogical.getOrElse(c, c))
      }
      // re-stating the CURRENT property is a no-op (a streaming sink sends
      // its options on every batch); CHANGING it post-creation rejects
      val tableCdf = tableConf.get("delta.enableChangeDataFeed").exists(_.toBoolean)
      if (options.contains("change_data_feed") && cdf != tableCdf)
        throw Catalog.InvalidOptionException(
          "change_data_feed is a table property set at creation; it cannot be " +
            "changed by a later COPY")
      val tableRt = tableConf.get("delta.enableRowTracking").exists(_.toBoolean)
      if (options.contains("row_tracking") && rtOpt != tableRt)
        throw Catalog.InvalidOptionException(
          "row_tracking is a table property set at creation; it cannot be " +
            "changed by a later COPY")
    }

    // idempotence gate: this txn (micro-batch) already landed → no-op
    txn.foreach { case (appId, v) =>
      if (txnVersions.get(appId).exists(_ >= v)) return
    }

    // ---- distributed data write into a temp dir, then move under root ----
    val newFiles = writeDataFiles(dfW, rootPath, partColsW, options)

    // ---- one commit JSON, atomically placed at the next version ----
    val version = st.version + 1
    val lines = Seq.newBuilder[String]
    val op = if (creating) "CREATE TABLE AS SELECT"
      else if (overwrite) "WRITE (overwrite)" else "WRITE (append)"
    txn.foreach { case (appId, v) =>
      lines += s"""{"txn":{"appId":${mapper.writeValueAsString(appId)},"version":$v}}"""
    }
    if (creating) {
      // rowTracking needs the table-features protocol (it depends on the
      // domainMetadata writer feature carrying the id high-water mark)
      lines +=
        (if (rtOpt) {
          val feats = (Seq("rowTracking", "domainMetadata") ++
            (if (cdf) Seq("changeDataFeed") else Nil)).sorted
            .map("\"" + _ + "\"").mkString(",")
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":[$feats]}}"""
        } else
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":${if (cdf) 4 else 2}}}""")
      // stable-id preservation writes under randomly-named hidden physical
      // columns (the delta-spark arrangement) — fixed at creation so every
      // later rewrite agrees on the names
      val suffix = java.util.UUID.randomUUID().toString
      val conf = Seq(
        Option.when(cdf)("delta.enableChangeDataFeed" -> "true"),
        Option.when(rtOpt)("delta.enableRowTracking" -> "true"),
        Option.when(rtOpt)(MatRowIdKey -> s"_row-id-col-$suffix"),
        Option.when(rtOpt)(MatRowVerKey -> s"_row-commit-version-col-$suffix")).flatten
      lines += metaDataAction(None, df.schema, partCols,
        scala.collection.immutable.ListMap(conf: _*), Some(System.currentTimeMillis()))
    }
    // an advanced identity high-water mark re-commits the metaData with the
    // updated field metadata (same table id)
    identitySchemaUpdate.foreach { ns =>
      lines += metaDataAction(st.tableId, ns, tablePartCols, tableConf)
    }
    if (overwrite && !creating) live.foreach { case (p, e) =>
      lines += removeJson(p, e, System.currentTimeMillis(), dataChange = true)
    }
    val alloc = new RowIdAllocator(st, version, path, forceActive = creating && rtOpt)
    newFiles.foreach(f => lines += alloc.add(f, dataChange = true))
    alloc.domainLine.foreach(lines += _)
    commit(fs, st, path, op, Nil, lines.result())
  }

  private final case class NewFile(rel: String, size: Long, modTime: Long,
    partitionValues: Map[String, String], stats: String)

  // ------------------------------------------------ writer protocol gates
  // PROTOCOL.md: "a writer must implement every writer feature the table's
  // protocol lists (or implies through a legacy version) before committing"
  // — committing anyway silently breaks the guarantee that feature encodes.
  // Features this writer genuinely implements end-to-end:
  private val ImplementedWriterFeatures = Set(
    "appendOnly", // enforced below
    "invariants", // enforced below (expression invariants + NOT NULL)
    "checkConstraints", // enforced below (delta.constraints.*)
    "changeDataFeed", // cdc files written by the DML paths
    "columnMapping", // mode=name logical/physical plumbing
    "deletionVectors", // native DV write + read
    "generatedColumns", // computed when omitted, enforced when supplied
    "identityColumns", // generated on the start/step lattice, hwm tracked
    "rowTracking", // baseRowId/defaultRowCommitVersion assigned, hwm domain
    // maintained, stable ids preserved through rewrites via the
    // materialized columns (see RowIdAllocator + the rt* helpers)
    "timestampNtz") // a type gate; parquet NTZ round-trips
  // Conditionally fine: generated/identity columns only oblige a writer to
  // COMPUTE expressions when they exist — a table carrying the feature but
  // no expression is writable; one with expressions is not (we don't
  // evaluate them). domainMetadata/v2Checkpoint only constrain CHECKPOINT
  // writing, and checkpoint() implements both (domain rows are preserved
  // through the fold; V2 tables get a UUID manifest + sidecar). Commits
  // never originate domain actions, so appends/DML are unconstrained.
  private val CheckpointOnlyFeatures = Set("domainMetadata", "v2Checkpoint",
    "vacuumProtocolCheck", "inCommitTimestamp")

  /** The writer features the table DEMANDS: the v7 list verbatim, or the
    * set a legacy minWriterVersion implies. */
  private def demandedWriterFeatures(p: Protocol): Set[String] =
    if (p.minWriter >= 7) p.writerFeatures
    else Seq(2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect {
      case (v, f) if p.minWriter >= v => f
    }.toSet

  /** Reject before the first byte moves when the table demands writer
    * behavior this writer does not implement, or when delta.appendOnly
    * forbids the operation. `removesData` = the op deletes or rewrites
    * live rows (DELETE/UPDATE/MERGE/overwrite); OPTIMIZE's dataChange=false
    * re-binning is explicitly allowed by the append-only rule. */
  private[catalog] def writerGates(st: Snapshot, path: String,
      removesData: Boolean, opName: String): Unit = {
    st.protocol.foreach { p =>
      val demanded = demandedWriterFeatures(p)
      val schemaOpt = st.schemaJson.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType])
      def schemaHas(metaKey: String): Boolean = schemaOpt.exists(_.fields.exists(f =>
        f.metadata.contains(metaKey) ||
          f.metadata.json.contains("\"" + metaKey)))
      val unsupported = demanded.filterNot { f =>
        ImplementedWriterFeatures(f) || CheckpointOnlyFeatures(f)
      }
      if (unsupported.nonEmpty) throw DeltaReadException(
        s"`$path`: the table's protocol demands writer feature(s) " +
          s"${unsupported.toSeq.sorted.mkString(", ")} this native writer does " +
          "not implement — committing anyway would break what the feature " +
          "guarantees; use a delta connector jar")
    }
    if (removesData && st.conf.get("delta.appendOnly").exists(_.toBoolean))
      throw DeltaReadException(
        s"`$path`: delta.appendOnly=true — $opName would delete or rewrite " +
          "existing rows, which an append-only table forbids")
  }

  // ------------------------------------------------------- row tracking
  // PROTOCOL.md "Row Tracking": when the protocol lists the rowTracking
  // writer feature, every add action carries a fresh, non-overlapping
  // [baseRowId, baseRowId+numRecords) range and the commit version its
  // rows default to; the high-water mark lives in domainMetadata domain
  // `delta.rowTracking`. When the table property delta.enableRowTracking
  // is true, row ids are STABLE: rewrites that copy rows must materialize
  // each row's id (and original commit version) into the table's hidden
  // materialized columns, so default arithmetic (base + position) only
  // ever applies to rows that have never moved.
  private val RowTrackingDomain = "delta.rowTracking"
  private[catalog] val MatRowIdKey = "delta.rowTracking.materializedRowIdColumnName"
  private[catalog] val MatRowVerKey = "delta.rowTracking.materializedRowCommitVersionColumnName"

  private[catalog] def rowTrackingSupported(st: Snapshot): Boolean =
    st.protocol.exists(p => p.minWriter >= 7 &&
      p.writerFeatures.contains("rowTracking"))
  private[catalog] def rowTrackingEnabled(st: Snapshot): Boolean =
    rowTrackingSupported(st) &&
      st.conf.get("delta.enableRowTracking").exists(_.toBoolean)

  private def rowIdHwm(st: Snapshot): Long =
    st.domains.get(RowTrackingDomain).flatMap { c =>
      val n = mapper.readTree(c).path("rowIdHighWaterMark")
      if (n.isNumber) Some(n.asLong()) else None
    }.getOrElse(-1L)

  /** A live file's row count as its add stats log it; None when the file
    * carries no stats or no numRecords. Output sizing reads it: ZORDER's
    * row target and the copy-on-write byte estimate ([[cowBytes]]). */
  private def loggedRows(e: FileEntry): Option[Long] =
    e.stats.map(s => mapper.readTree(s).path("numRecords")).filter(_.isNumber).map(_.asLong())

  private def statsNumRecords(stats: String, path: String): Long = {
    val n = mapper.readTree(stats).path("numRecords")
    if (n.isNumber) n.asLong()
    else throw DeltaReadException(
      s"`$path`: a written file's stats carry no numRecords — cannot " +
        "assign row ids on a rowTracking table")
  }

  /** Per-commit fresh row-id allocation: `add` writes a new file's add
    * action with the next non-overlapping base range; `domainLine` emits
    * the advanced high-water mark (one domainMetadata action per commit
    * that allocated anything). Inactive (no id fields, no line) on tables
    * whose protocol does not list rowTracking. */
  private[catalog] final class RowIdAllocator(st: Snapshot,
      commitVersion: Long, path: String, forceActive: Boolean = false) {
    val active: Boolean = forceActive || rowTrackingSupported(st)
    private var next: Long = rowIdHwm(st) + 1
    private var allocated = false
    def add(f: NewFile, dataChange: Boolean): String =
      addJson(f.rel, f.partitionValues, f.size, f.modTime, dataChange, Some(f.stats),
        if (!active) ""
        else {
          val base = next
          next += math.max(statsNumRecords(f.stats, path), 0L)
          allocated = true
          s""","baseRowId":$base,"defaultRowCommitVersion":$commitVersion"""
        })
    def domainLine: Option[String] =
      if (!active || !allocated) None
      else Some(s"""{"domainMetadata":{"domain":"$RowTrackingDomain",""" +
        s""""configuration":${mapper.writeValueAsString(
          s"""{"rowIdHighWaterMark":${next - 1}}""")},"removed":false}}""")
  }

  /** The add action of a file: `extra` (row-tracking fields) follows
    * dataChange, then the stats and the deletion vector when given. */
  private[catalog] def addJson(rel: String, partitionValues: Map[String, String],
      size: Long, modTime: Long, dataChange: Boolean, stats: Option[String],
      extra: String = "", dv: Option[graft.sources.DeletionVectors.Descriptor] = None): String = {
    s"""{"add":{"path":${mapper.writeValueAsString(rel)},"partitionValues":${pvJson(partitionValues)},""" +
      s""""size":$size,"modificationTime":$modTime,"dataChange":$dataChange$extra""" +
      stats.map(s0 => s""","stats":${mapper.writeValueAsString(s0)}""").getOrElse("") +
      dv.map(d => s""","deletionVector":${d.json}""").getOrElse("") + "}}"
  }

  /** A partitionValues object; a null value is a JSON null. */
  private def pvJson(partitionValues: Map[String, String]): String = {
    val pv = mapper.createObjectNode()
    partitionValues.foreach { case (k, v) => if (v == null) pv.putNull(k) else pv.put(k, v) }
    mapper.writeValueAsString(pv)
  }

  /** The file actions of a copy-on-write rewrite (UPDATE/DELETE, MERGE):
    * a cdc action per change file, a remove per rewritten file, an add per
    * new file and the row-id high-water mark. */
  private def rewriteActions(st: Snapshot, path: String, cdcFiles: Seq[NewFile],
      rewritten: Seq[String], newFiles: Seq[NewFile]): Seq[String] = {
    val alloc = new RowIdAllocator(st, st.version + 1, path)
    val now = System.currentTimeMillis()
    cdcFiles.map { f =>
      s"""{"cdc":{"path":${mapper.writeValueAsString(f.rel)},"partitionValues":${pvJson(f.partitionValues)},""" +
        s""""size":${f.size},"dataChange":false}}"""
    } ++ rewritten.map(rel => removeJson(rel, st.live(rel), now, dataChange = true)) ++
      newFiles.map(alloc.add(_, dataChange = true)) ++ alloc.domainLine
  }

  /** The remove action of a live file. It carries the file's deletion
    * vector, since readers reconcile on (path, DV id): a bare remove would
    * leave a DV-carrying add live. */
  private[catalog] def removeJson(rel: String, e: FileEntry, nowMs: Long,
      dataChange: Boolean): String =
    s"""{"remove":{"path":${mapper.writeValueAsString(rel)},"deletionTimestamp":$nowMs,"dataChange":$dataChange""" +
      e.dv.map(d => s""","deletionVector":${d.json}""").getOrElse("") + rtEchoFields(e) + "}}"

  /** Echo a live entry's row-tracking fields on a re-emitted add (DV
    * re-adds, RESTORE, clone) — losing them would re-default every row. */
  private def rtEchoFields(e: FileEntry): String =
    e.baseRowId.map(b => s""","baseRowId":$b""").getOrElse("") +
      e.defaultRowCommitVersion.map(v => s""","defaultRowCommitVersion":$v""").getOrElse("")

  /** The materialized column names preservation writes under — demanded
    * from the table configuration (this writer's creation path always sets
    * them alongside delta.enableRowTracking). */
  private def rtMatCols(st: Snapshot, path: String): (String, String) = {
    val id = st.conf.getOrElse(MatRowIdKey, throw DeltaReadException(
      s"`$path`: delta.enableRowTracking is set but the table configuration " +
        s"lacks $MatRowIdKey — cannot preserve stable row ids; use a delta " +
        "connector jar"))
    val ver = st.conf.getOrElse(MatRowVerKey, throw DeltaReadException(
      s"`$path`: delta.enableRowTracking is set but the table configuration " +
        s"lacks $MatRowVerKey — cannot preserve stable row ids; use a delta " +
        "connector jar"))
    (id, ver)
  }

  /** Tiny per-file frame (path key → baseRowId, defaultRowCommitVersion)
    * broadcast-joined against scans that must compute each row's stable
    * id: coalesce(materialized, base + row_index). */
  private def rtInfoDf(spark: org.apache.spark.sql.SparkSession,
      st: Snapshot, resolve: String => String): DataFrame = {
    val schema = StructType(Seq(
      StructField("__rt_key", StringType, nullable = false),
      StructField("__rt_base", LongType, nullable = true),
      StructField("__rt_def", LongType, nullable = true)))
    val rows = st.live.toSeq.map { case (rel, e) =>
      org.apache.spark.sql.Row(graft.sources.PathKeys.key(resolve(rel)),
        e.baseRowId.map(Long.box).orNull,
        e.defaultRowCommitVersion.map(Long.box).orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Enforce CHECK constraints (delta.constraints.*, writer v3), expression
    * invariants (delta.invariants field metadata, writer v2) and NOT NULL
    * (non-nullable schema fields) on every row this writer is about to add.
    * One validation job per rule, each pruned to the first violation; rules
    * are rare (0–2 per table), so this stays one cheap pass over the frame.
    * NULL check-results PASS per SQL CHECK semantics. */
  private[catalog] def validateIncomingRows(st: Snapshot, rows: DataFrame,
      path: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    val schemaOpt = st.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val checks: Seq[(String, String)] =
      st.conf.collect { case (k, v) if k.startsWith("delta.constraints.") =>
        (s"CHECK constraint `${k.stripPrefix("delta.constraints.")}`", v)
      }.toSeq ++
        schemaOpt.toSeq.flatMap(_.fields.toSeq.collect {
          case f if f.metadata.contains("delta.invariants") =>
            val node = mapper.readTree(f.metadata.getString("delta.invariants"))
            (s"column invariant on `${f.name}`",
              node.path("expression").path("expression").asText())
        })
    checks.foreach { case (what, cond) =>
      if (cond.nonEmpty) {
        // violation = expression evaluates to FALSE (NULL passes, SQL CHECK)
        val bad = rows.filter(expr(cond).cast("boolean") <=> false).take(1)
        if (bad.nonEmpty) throw DeltaReadException(
          s"`$path`: $what `$cond` is violated by an incoming row " +
            s"(${bad.head.toString.take(200)}); the write is rejected whole")
      }
    }
    // generated columns (writer feature `generatedColumns`): every written
    // row must satisfy col <=> expression — UPDATE/MERGE that break the
    // generation invariant reject just like delta-spark
    schemaOpt.toSeq.flatMap(_.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") =>
        (f.name, f.metadata.getString("delta.generationExpression"), f.dataType)
    }).foreach { case (name, genSql, dt) =>
      if (rows.schema.fieldNames.contains(name)) {
        val bad = rows.filter(!(col(name) <=> expr(genSql).cast(dt))).take(1)
        if (bad.nonEmpty) throw DeltaReadException(
          s"`$path`: generated column `$name` = `$genSql` is violated by an " +
            s"incoming row (${bad.head.toString.take(200)}); the write is " +
            "rejected whole")
      }
    }
    schemaOpt.foreach { sch =>
      sch.fields.filterNot(_.nullable).foreach { f =>
        // a column the incoming plan itself proves non-nullable cannot
        // carry null: the probe would only plan and run an empty action
        if (rows.schema.fieldNames.contains(f.name) && rows.schema(f.name).nullable) {
          val bad = rows.filter(col(f.name).isNull).take(1)
          if (bad.nonEmpty) throw DeltaReadException(
            s"`$path`: column `${f.name}` is NOT NULL in the table schema but " +
              "an incoming row carries null; the write is rejected whole")
        }
      }
    }
  }

  /** Generated columns the incoming frame OMITS are computed from their
    * `delta.generationExpression` in the table's declared column order;
    * frames that already carry every column pass through unchanged. */
  private[catalog] def computeGeneratedColumns(st: Snapshot, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val schemaOpt = st.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val missing = schemaOpt.toSeq.flatMap(_.fields.toSeq.collect {
      case f if f.metadata.contains("delta.generationExpression") &&
        !df.schema.fieldNames.contains(f.name) =>
        (f.name, f.metadata.getString("delta.generationExpression"), f.dataType)
    })
    if (missing.isEmpty) df
    else {
      val widened = missing.foldLeft(df) { case (d, (name, genSql, dt)) =>
        d.withColumn(name, expr(genSql).cast(dt))
      }
      schemaOpt.map(sch => widened.select(sch.fieldNames.map(col).toSeq: _*))
        .getOrElse(widened)
    }
  }

  /** Identity columns (writer feature `identityColumns`, the
    * `GENERATED ... AS IDENTITY` shape): a frame OMITTING the column gets
    * values assigned on the spec's start/step lattice past the table's
    * `delta.identity.highWaterMark` — a distributed zipWithIndex (one
    * count-per-partition pre-pass, the standard contiguous-index shape;
    * never a single-partition window); a frame SUPPLYING it is accepted
    * only when `delta.identity.allowExplicitInsert` is true (GENERATED BY
    * DEFAULT), and the high-water mark advances past the supplied extreme.
    * Returns the (possibly widened) frame + the updated table schema to
    * re-commit as metaData when any mark moved. */
  private[catalog] def applyIdentityColumns(st: Snapshot, df: DataFrame,
      path: String): (DataFrame, Option[StructType]) = {
    import org.apache.spark.sql.functions.col
    val schemaOpt = st.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
    val idFields = schemaOpt.toSeq.flatMap(_.fields.toSeq
      .filter(_.metadata.contains("delta.identity.start")))
    if (idFields.isEmpty) return (df, None)
    def metaLong(f: StructField, k: String): Option[Long] =
      if (!f.metadata.contains(k)) None
      else scala.util.Try(f.metadata.getLong(k)).toOption
        .orElse(scala.util.Try(f.metadata.getString(k).toLong).toOption)
    var out = df
    var newSchema = schemaOpt.get
    var changed = false
    idFields.foreach { f =>
      val start = metaLong(f, "delta.identity.start").getOrElse(1L)
      val step = metaLong(f, "delta.identity.step").getOrElse(1L)
      if (step == 0L) throw DeltaReadException(
        s"`$path`: identity column `${f.name}` has step 0 — malformed metadata")
      val hwm = metaLong(f, "delta.identity.highWaterMark")
      val allowExplicit = f.metadata.contains("delta.identity.allowExplicitInsert") &&
        scala.util.Try(f.metadata.getBoolean("delta.identity.allowExplicitInsert"))
          .getOrElse(f.metadata.getString("delta.identity.allowExplicitInsert").toBoolean)
      def withHwm(v: Long): Unit = {
        val nb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong("delta.identity.highWaterMark", v).build()
        newSchema = StructType(newSchema.fields.map(x =>
          if (x.name == f.name) x.copy(metadata = nb) else x))
        changed = true
      }
      if (out.schema.fieldNames.contains(f.name)) {
        if (!allowExplicit) throw DeltaReadException(
          s"`$path`: identity column `${f.name}` is GENERATED ALWAYS — " +
            "explicit values are not accepted; omit the column")
        // GENERATED BY DEFAULT: accept, advance the mark past the extreme
        val agg = out.agg(
          (if (step > 0) org.apache.spark.sql.functions.max(col(f.name))
           else org.apache.spark.sql.functions.min(col(f.name)))
            .cast("long")).collect().head
        if (!agg.isNullAt(0)) {
          val ext = agg.getLong(0)
          if (hwm.isEmpty || (step > 0 && ext > hwm.get) || (step < 0 && ext < hwm.get))
            withHwm(ext)
        }
      } else {
        // assign hwm + step*(i+1) via a distributed contiguous index; the
        // base is start - step when no mark exists (first value = start)
        val base = hwm.getOrElse(start - step)
        val fieldType = f.dataType
        val idxSchema = StructType(out.schema.fields :+
          StructField(f.name, LongType, nullable = false))
        val spark0 = out.sparkSession
        val indexed = spark0.createDataFrame(
          out.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (base + step * (i + 1L)))
          }, idxSchema)
        val n = indexed.count()
        out = indexed.withColumn(f.name, col(f.name).cast(fieldType))
        if (n > 0) withHwm(base + step * n)
      }
    }
    // restore the table's declared column order
    out = out.select(newSchema.fieldNames.map(col).toSeq: _*)
    (out, if (changed) Some(newSchema) else None)
  }

  /** The gate of the statements that do not carry deletion vectors
    * through (MERGE, copy-on-write UPDATE/DELETE, OPTIMIZE, ZORDER,
    * RESTORE, convert_to_iceberg): reject when a LIVE file has one. A DV
    * that a later commit removed (REORG PURGE) no longer blocks them. */
  private[catalog] def requireNoDv(st: Snapshot, rootPath: Path, op: String): Unit =
    if (st.live.values.exists(_.dv.isDefined)) throw DeltaReadException(
      s"`$rootPath`: deletion-vector files — use a delta connector jar for $op")

  /** SHALLOW CLONE — a ZERO-COPY snapshot of a table (the delta-spark
    * `CREATE TABLE ... SHALLOW CLONE` shape): the clone's commit 0 carries
    * the source's protocol/schema/configuration and one `add` per live
    * source file with its ABSOLUTE qualified path (the spec's add.path is
    * a relative path OR an absolute URI — clones are the absolute case),
    * stats and partition values riding along so skipping works unchanged.
    * No data bytes move; DML on the clone rewrites into the CLONE's own
    * directory while removes reference the absolute source paths — the
    * source table never changes. The experimentation lever at 100 TB:
    * clone production, test a migration, drop the clone.
    *
    * Sources carrying deletion vectors reject loudly ("u"-storage DV
    * paths are table-root-relative, so a cloned descriptor would dangle;
    * purge DVs first — the same gate delta-spark applies to older
    * readers). VACUUMing the SOURCE breaks clones by design (documented
    * delta behavior); time travel on the clone starts at its commit 0. */
  def shallowClone(spark: org.apache.spark.sql.SparkSession, srcPath: String,
      dstPath: String): Long = {
    val srcRoot = new Path(srcPath)
    val fs = srcRoot.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, srcPath)
    if (!st.exists) throw DeltaReadException(s"`$srcPath`: not a Delta table")
    if (st.live.values.exists(_.dv.isDefined)) throw DeltaReadException(
      s"`$srcPath`: table carries deletion vectors — their storage paths are " +
        "table-root-relative and would dangle from a clone; purge first " +
        "(purgeDeletionVectors), then clone")
    val dstRoot = new Path(dstPath)
    val dstLog = new Path(dstRoot, "_delta_log")
    if (fs.exists(dstLog)) throw DeltaReadException(
      s"`$dstPath`: already a Delta table — clone needs a fresh destination")
    val schemaJson = st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$srcPath`: no metaData action"))
    def absUri(rel: String): String = {
      val p = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      val abs = if (p.isAbsolute) p else new Path(srcRoot, p)
      fs.makeQualified(abs).toUri.toString
    }
    val adds = st.live.toSeq.map { case (rel, e) =>
      addJson(absUri(rel), e.partitionValues, e.size, e.modificationTime,
        dataChange = true, e.stats, rtEchoFields(e))
    }
    val protoJson = st.protocol.map(_.json).getOrElse(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
    val metaData = metaDataAction(None,
      DataType.fromJson(schemaJson).asInstanceOf[StructType], st.partCols, st.conf)
    // live domains ride along — dropping delta.rowTracking's high-water
    // mark would let the clone's first append allocate row-id ranges that
    // overlap the cloned files' existing baseRowIds
    val domainLines = st.domains.toSeq.map { case (d, c) =>
      s"""{"domainMetadata":{"domain":${mapper.writeValueAsString(d)},""" +
        s""""configuration":${mapper.writeValueAsString(c)},"removed":false}}"""
    }
    // the clone's log starts at version 0, under the source's configuration
    // (and so its in-commit-timestamp floor)
    commit(fs, st.copy(version = -1L), dstPath, "CLONE", Seq("source" -> srcPath),
      Seq(protoJson, metaData) ++ domainLines ++ adds)
    st.live.size.toLong
  }

  /** ADD CONSTRAINT <name> CHECK (<expr>) — installs a writer-v3 CHECK
    * constraint (PROTOCOL.md): EXISTING rows must ALL satisfy it first
    * (one scan through the native reader — DVs/deletes honored; a NULL
    * check-result passes per SQL CHECK), then one commit carries the
    * `delta.constraints.<name>` configuration plus, when the current
    * protocol predates the feature, the minWriterVersion 3 bump (or the
    * `checkConstraints` entry on a v7 feature list). Every later write
    * through this engine enforces it (`validateIncomingRows`). */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String, exprSql: String): Unit = {
    import org.apache.spark.sql.functions.expr
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(
      s"ALTER TABLE: `$path` has no _delta_log — not a Delta table")
    writerGates(st, path, removesData = false, "ADD CONSTRAINT")
    val key = s"delta.constraints.${name.toLowerCase}"
    if (st.conf.contains(key)) throw DeltaReadException(
      s"ALTER TABLE: constraint `$name` already exists on `$path`")
    val live = graft.sources.DeltaNative.read(spark, path, Map.empty)
    try live.filter(expr(exprSql).cast("boolean") <=> false).take(1) match {
      case Array(r) => throw DeltaReadException(
        s"ALTER TABLE: cannot add constraint `$name` — existing row " +
          s"${r.toString.take(200)} violates CHECK ($exprSql)")
      case _ => ()
    } catch {
      case e: org.apache.spark.sql.AnalysisException => throw DeltaReadException(
        s"ALTER TABLE: CHECK expression `$exprSql` does not resolve against " +
          s"the table schema: ${e.getMessage.take(200)}")
    }
    val protoLine: Option[String] = st.protocol.flatMap { p =>
      if (p.minWriter >= 7 && !p.writerFeatures.contains("checkConstraints"))
        Some(p.copy(writerFeatures = p.writerFeatures + "checkConstraints").json)
      else if (p.minWriter < 3) Some(p.copy(minWriter = 3).json)
      else None
    }
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    commit(fs, st, path, "ADD CONSTRAINT", Seq("name" -> name, "expr" -> exprSql),
      protoLine.toSeq :+ metaDataAction(st.tableId, schema, st.partCols,
        st.conf + (key -> exprSql)))
  }

  /** DROP CONSTRAINT <name> — removes the configuration key (the protocol
    * stays; features are one-way declarations). */
  def dropCheckConstraint(spark: org.apache.spark.sql.SparkSession, path: String,
      name: String): Unit = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(
      s"ALTER TABLE: `$path` has no _delta_log — not a Delta table")
    writerGates(st, path, removesData = false, "DROP CONSTRAINT")
    val key = s"delta.constraints.${name.toLowerCase}"
    if (!st.conf.contains(key)) throw DeltaReadException(
      s"ALTER TABLE: no constraint `$name` on `$path`; known: " +
        st.conf.keys.filter(_.startsWith("delta.constraints."))
          .map(_.stripPrefix("delta.constraints.")).toSeq.sorted.mkString(", "))
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    commit(fs, st, path, "DROP CONSTRAINT", Seq("name" -> name),
      Seq(metaDataAction(st.tableId, schema, st.partCols, st.conf - key)))
  }

  /** SET TBLPROPERTIES — `delta.appendOnly` (the writer-v2 gate this
    * engine enforces) and user-namespace keys commit as configuration;
    * OTHER `delta.*` keys reject loudly (accepting a protocol-relevant
    * property this writer would not honor — enableChangeDataFeed
    * retroactively, columnMapping by hand — is silent wrongness). */
  def setTableProperties(spark: org.apache.spark.sql.SparkSession, path: String,
      props: Map[String, String]): Unit = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one key")
    // delta.* keys are settable only when this writer honors them:
    // appendOnly (the v2 gate), and the checkpoint-shape properties
    // (checkpointPolicy / checkpoint.writeFormat — checkpoint() implements
    // both and validates the protocol-feature prerequisite at fold time)
    val settableDelta = Set("delta.appendOnly", "delta.checkpointPolicy",
      "delta.checkpoint.writeFormat")
    props.keys.find(k => k.startsWith("delta.") && !settableDelta(k))
      .foreach { k =>
        throw DeltaReadException(
          s"ALTER TABLE: property `$k` changes protocol behavior this writer " +
            "manages through dedicated surfaces (constraints DDL, the DV/" +
            "column-mapping upgrades) or does not honor — refusing to record " +
            s"it; settable here: ${settableDelta.mkString(", ")} and " +
            "non-delta keys")
      }
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(
      s"ALTER TABLE: `$path` has no _delta_log — not a Delta table")
    writerGates(st, path, removesData = false, "SET TBLPROPERTIES")
    val schema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    commit(fs, st, path, "SET TBLPROPERTIES", Nil,
      Seq(metaDataAction(st.tableId, schema, st.partCols, st.conf ++ props)))
  }

  /** ADD COLUMN schema evolution: one log-only commit carrying an updated
    * metaData action (the protocol's evolution shape — data files are
    * untouched). The new column is always nullable: pre-evolution files
    * cannot carry it, and the reader serves it as NULL (pinned in
    * DeltaNativeSpec). Appends after evolution must supply the full new
    * schema. The table id is preserved across the metaData rewrite. */
  def addColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String, typeDdl: String): Unit = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(
      s"ALTER TABLE: `$path` has no _delta_log — not a Delta table")
    writerGates(st, path, removesData = false, "ADD COLUMNS")
    val schema = DataType.fromJson(st.schemaJson.getOrElse(throw DeltaReadException(
      s"ALTER TABLE: `$path` log declares no schema"))).asInstanceOf[StructType]
    if (schema.fieldNames.exists(_.equalsIgnoreCase(colName))) throw DeltaReadException(
      s"ALTER TABLE: column `$colName` already exists in `$path`")
    val dt = try DataType.fromDDL(typeDdl) catch {
      case e: Exception => throw DeltaReadException(
        s"ALTER TABLE: `$typeDdl` is not a Spark type: ${e.getMessage}")
    }
    // with column mapping active, every field needs an id + physicalName
    // (protocol: Column Mapping) — new columns get a fresh synthetic
    // physical name so a later rename of THIS column stays metadata-only
    val mapped = st.columnMappingMode != "none"
    val newField =
      if (!mapped) StructField(colName, dt, nullable = true)
      else {
        val nextId = st.conf.get("delta.columnMapping.maxColumnId")
          .map(_.toLong).getOrElse(schema.fields.length.toLong) + 1
        StructField(colName, dt, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("delta.columnMapping.id", nextId)
            .putString("delta.columnMapping.physicalName",
              s"col-${java.util.UUID.randomUUID()}")
            .build())
      }
    val newSchema = StructType(schema.fields :+ newField)
    val newConf =
      if (!mapped) st.conf
      else st.conf + ("delta.columnMapping.maxColumnId" ->
        newField.metadata.getLong("delta.columnMapping.id").toString)
    commit(fs, st, path, "ADD COLUMNS", Seq("column" -> colName, "type" -> typeDdl),
      Seq(metaDataAction(st.tableId, newSchema, st.partCols, newConf)))
  }

  /** DROP COLUMN — metadata-only on Delta via COLUMN MAPPING: the first
    * drop/rename upgrades the table to `delta.columnMapping.mode = name`
    * (each field pinned to its current name as physicalName, protocol
    * raised per the spec), after which data files are never touched — the
    * dropped field just leaves the logical schema. Partition columns and
    * the last remaining column reject loudly. */
  def dropColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      colName: String): Unit =
    alterMappedSchema(spark, path, "DROP COLUMNS", colName, None)

  /** RENAME COLUMN — metadata-only on Delta via COLUMN MAPPING (same
    * upgrade as dropColumn): the field keeps its physicalName (the
    * original on-disk name), only the logical name changes, and the
    * native reader's existing mapping support serves the data under the
    * new name. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, path: String,
      oldName: String, newName: String): Unit =
    alterMappedSchema(spark, path, "RENAME COLUMN", oldName, Some(newName))

  private def alterMappedSchema(spark: org.apache.spark.sql.SparkSession,
      path: String, op: String, colName: String, renameTo: Option[String]): Unit = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(
      s"ALTER TABLE: `$path` has no _delta_log — not a Delta table")
    writerGates(st, path, removesData = false, op)
    val schema = DataType.fromJson(st.schemaJson.getOrElse(throw DeltaReadException(
      s"ALTER TABLE: `$path` log declares no schema"))).asInstanceOf[StructType]
    if (!schema.fieldNames.contains(colName)) throw DeltaReadException(
      s"ALTER TABLE: column `$colName` does not exist in `$path`")
    renameTo.foreach { n =>
      if (schema.fieldNames.exists(_.equalsIgnoreCase(n))) throw DeltaReadException(
        s"ALTER TABLE: column `$n` already exists in `$path`")
    }
    if (st.partCols.contains(colName)) throw DeltaReadException(
      s"ALTER TABLE: `$colName` is a partition column of `$path` — " +
        "partition-column evolution needs a table rewrite")
    if (renameTo.isEmpty && schema.fields.length <= 1) throw DeltaReadException(
      s"ALTER TABLE: cannot drop the only column of `$path`")
    val curMode = st.columnMappingMode
    if (curMode != "none" && curMode != "name") throw DeltaReadException(
      s"ALTER TABLE: `$path` uses column mapping mode `$curMode`; this writer " +
        "evolves mode `name` tables only")
    // first evolution upgrades to mode=name: every existing field pins its
    // CURRENT name as physicalName (that is what the data files carry), so
    // existing files keep resolving and THIS change becomes metadata-only
    val upgrading = curMode == "none"
    val pinned: Array[StructField] =
      if (!upgrading) schema.fields
      else schema.fields.zipWithIndex.map { case (f, i) =>
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        if (!f.metadata.contains("delta.columnMapping.id"))
          mb.putLong("delta.columnMapping.id", (i + 1).toLong)
        if (!f.metadata.contains("delta.columnMapping.physicalName"))
          mb.putString("delta.columnMapping.physicalName", f.name)
        f.copy(metadata = mb.build())
      }
    val newFields: Array[StructField] = renameTo match {
      case Some(n) => pinned.map(f => if (f.name == colName) f.copy(name = n) else f)
      case None => pinned.filterNot(_.name == colName)
    }
    val maxId = pinned.map { f =>
      if (f.metadata.contains("delta.columnMapping.id"))
        f.metadata.getLong("delta.columnMapping.id")
      else 0L
    }.foldLeft(st.conf.get("delta.columnMapping.maxColumnId").map(_.toLong)
      .getOrElse(0L))(math.max)
    val newConf = st.conf +
      ("delta.columnMapping.mode" -> "name") +
      ("delta.columnMapping.maxColumnId" -> maxId.toString)
    val params = renameTo match {
      case Some(n) => Seq("oldColumn" -> colName, "newColumn" -> n)
      case None => Seq("column" -> colName)
    }
    // column mapping must be declared in the protocol before a compliant
    // reader honors physicalName resolution (legacy reader 2 / writer 5,
    // or the columnMapping feature on a table-features protocol)
    val curProto = st.protocol.getOrElse(Protocol(1, 2, Set.empty, Set.empty))
    commit(fs, st, path, op, params,
      Option.when(!curProto.supportsColumnMapping)(curProto.withColumnMapping.json).toSeq :+
        metaDataAction(st.tableId, StructType(newFields), st.partCols, newConf))
  }

  /** The metaData action carrying the table's id (a new table, `None`,
    * gets a fresh one). */
  private[catalog] def metaDataAction(tableId: Option[String], newSchema: StructType,
      partCols: Seq[String], conf: Map[String, String],
      createdTime: Option[Long] = None): String = {
    val meta = mapper.createObjectNode()
    meta.put("id", tableId.getOrElse(java.util.UUID.randomUUID().toString))
    val fmtN = meta.putObject("format")
    fmtN.put("provider", "parquet"); fmtN.putObject("options")
    meta.put("schemaString", newSchema.json)
    val pa = meta.putArray("partitionColumns"); partCols.foreach(pa.add)
    val confN = mapper.createObjectNode()
    conf.foreach { case (k, v) => confN.put(k, v) }
    meta.set[com.fasterxml.jackson.databind.JsonNode]("configuration", confN)
    createdTime.foreach(meta.put("createdTime", _))
    s"""{"metaData":${mapper.writeValueAsString(meta)}}"""
  }

  /** The one Delta commit writer: every statement that commits calls it.
    * It builds the commit's one commitInfo (timestamp, `op`, `params` as
    * operationParameters when there are any, then the `info` fields) and
    * publishes it with `actions` as version `st.version + 1` through
    * [[graft.sources.CommitStore.publish]]; a version that already exists
    * raises the one lost-commit error, and nothing is published.
    *
    * PROTOCOL.md "In-Commit Timestamps": when the table enables or demands
    * inCommitTimestamp, the commitInfo (always the first action here)
    * carries an `inCommitTimestamp` strictly greater than the previous
    * commit's — readers order history by it instead of file mtimes, which
    * object stores can rewrite. */
  private[catalog] def commit(fs: org.apache.hadoop.fs.FileSystem, st: Snapshot,
      path: String, op: String, params: Seq[(String, Any)], actions: Seq[String],
      info: Seq[(String, Any)] = Nil): Unit = {
    import com.fasterxml.jackson.databind.JsonNode
    val now = System.currentTimeMillis()
    val ci = mapper.createObjectNode()
    if (st.conf.get("delta.enableInCommitTimestamps").exists(_.toBoolean) ||
        st.protocol.exists(p => demandedWriterFeatures(p).contains("inCommitTimestamp"))) {
      val floor = (st.lastIct.toSeq ++
        st.conf.get("delta.inCommitTimestampEnablementTimestamp")
          .flatMap(v => scala.util.Try(v.toLong).toOption)).maxOption.getOrElse(-1L)
      ci.put("inCommitTimestamp", math.max(now, floor + 1))
    }
    ci.put("timestamp", now)
    ci.put("operation", op)
    if (params.nonEmpty) {
      val pn = ci.putObject("operationParameters")
      params.foreach { case (k, v) => pn.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    }
    info.foreach { case (k, v) => ci.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    val version = st.version + 1
    val body = (s"""{"commitInfo":${mapper.writeValueAsString(ci)}}""" +: actions)
      .mkString("", "\n", "\n")
    graft.sources.CommitStore.publish(fs,
      new Path(new Path(path), f"_delta_log/$version%020d.json"), body.getBytes("UTF-8"))(
      DeltaReadException(s"`$path`: commit $version already exists — another writer " +
        "got there first; this native writer does not do optimistic-concurrency retry"))
  }

  /** DESCRIBE DETAIL — the delta-spark one-row table summary: format, id,
    * location, partition columns, live file census, properties, protocol.
    * Bounded driver log replay; no data bytes touched. */
  def describeDetail(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rootPath = new Path(path)
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    val proto = st.protocol.getOrElse(Protocol(1, 2, Set.empty, Set.empty))
    val id = st.tableId.getOrElse(java.util.UUID.randomUUID().toString)
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("delta", id, path,
        st.partCols, st.live.size.toLong, st.live.values.map(_.size).sum,
        st.conf, proto.minReader, proto.minWriter)), 1),
      StructType(Seq(
        StructField("format", StringType, nullable = false),
        StructField("id", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("partitionColumns", ArrayType(StringType), nullable = false),
        StructField("numFiles", LongType, nullable = false),
        StructField("sizeInBytes", LongType, nullable = false),
        StructField("properties", MapType(StringType, StringType), nullable = false),
        StructField("minReaderVersion", IntegerType, nullable = false),
        StructField("minWriterVersion", IntegerType, nullable = false))))
  }

  /** RESTORE TABLE ... TO VERSION — Delta's RESTORE command: ONE new
    * commit whose add/remove set flips the live-file set back to version
    * `version`'s. Files removed since then RE-ADD with their original
    * entries (partitionValues/size/stats intact, so file skipping keeps
    * working); files added since then REMOVE — content equals the old
    * version, history stays, every intermediate version keeps
    * time-traveling, and on a CDF table the bare dataChange add/removes
    * synthesize whole-file insert/delete rows in the feed (the protocol's
    * reading of non-cdc commits). A version below a folded checkpoint or
    * a schema changed since then rejects loudly (schema-evolving RESTORE
    * is a connector-jar feature). Pure bounded driver log work — zero
    * data bytes move. Returns (filesAdded, filesRemoved). */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Long): (Int, Int) = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val cur = DeltaLog.snapshot(spark, path)
    requireNoDv(cur, rootPath, "RESTORE")
    if (!cur.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    writerGates(cur, path, removesData = true, "RESTORE")
    // the commits below a folded checkpoint may be vacuumed, so RESTORE
    // does not reach past it
    cur.checkpointVersion.filter(_ > version).foreach { cpV =>
      throw DeltaReadException(
        s"`$rootPath`: state at version $version is below the folded checkpoint " +
          s"($cpV) — its commits may be vacuumed; use a delta connector jar")
    }
    val old = DeltaLog.snapshot(spark, path, stopAt = Some(version))
    requireNoDv(old, rootPath, "RESTORE")
    if (cur.schemaJson != old.schemaJson) throw DeltaReadException(
      s"`$path`: schema changed since version $version — schema-evolving " +
        "RESTORE needs a delta connector jar")
    val removes = cur.live.keys.filterNot(old.live.contains).toSeq
    val adds = old.live.toSeq.filterNot { case (p, _) => cur.live.contains(p) }
    if (removes.isEmpty && adds.isEmpty) return (0, 0)
    val now = System.currentTimeMillis()
    commit(fs, cur, path, "RESTORE", Seq("version" -> version),
      removes.map(rel => removeJson(rel, cur.live(rel), now, dataChange = true)) ++
        // re-adds keep their ORIGINAL row-id base/default (content
        // identical, rows never moved); the hwm never rewinds, so no
        // domain update
        adds.map { case (rel, e) =>
          addJson(rel, e.partitionValues, e.size, e.modificationTime, dataChange = true,
            e.stats, rtEchoFields(e))
        })
    (adds.size, removes.size)
  }

  /** CHECKPOINT — fold the log into a checkpoint at the latest version +
    * `_last_checkpoint`, so readers (including this library's own native
    * reader and followers) replay O(live files) instead of O(all commits) —
    * the log-bounding lever a long-lived 100 TB table needs. Tables whose
    * protocol demands the `v2Checkpoint` feature get a spec-shaped V2
    * checkpoint (UUID-named manifest with a `checkpointMetadata` action +
    * file actions in a `_sidecars/` parquet); everything else gets the
    * classic single-file form. Commit JSONs are left in place (time travel
    * and CDF keep their history). Returns the checkpointed version. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession, path: String,
      // classic checkpoints SPLIT at this many actions per part (the
      // delta-spark `delta.checkpoint.partSize` idea): a 100 TB table's
      // multi-million-file checkpoint should not be one giant parquet —
      // readers (ours included) union the parts with mergeSchema
      partSize: Int = 1000000): Long = {
    import org.apache.spark.sql.Row
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    val schemaJson = st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))
    val cdf = st.conf.get("delta.enableChangeDataFeed").exists(_.toBoolean)
    val pvType = MapType(StringType, StringType, valueContainsNull = true)
    val cpSchema = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        // feature lists mirror the table's protocol action verbatim — a
        // checkpoint that dropped them would un-declare deletionVectors
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", pvType)))),
      StructField("txn", StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", pvType),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        // a checkpoint that dropped this would RESURRECT deleted rows
        StructField("deletionVector", StructType(Seq(
          StructField("storageType", StringType),
          StructField("pathOrInlineDv", StringType),
          StructField("offset", IntegerType),
          StructField("sizeInBytes", IntegerType),
          StructField("cardinality", LongType)))),
        // row tracking: a checkpoint that dropped these would re-default
        // every folded file's row ids from a lost base
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType)))),
      // a checkpoint that dropped these would erase the domains' state
      // (PROTOCOL.md "Domain Metadata": the checkpoint carries the latest
      // live domainMetadata per domain; removed tombstones are reconciled
      // away at fold time)
      StructField("domainMetadata", StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))))
    val protoRow = st.protocol match {
      case Some(p) => Row(p.minReader, p.minWriter,
        if (p.minReader >= 3) p.readerFeatures.toSeq.sorted else null,
        if (p.minWriter >= 7) p.writerFeatures.toSeq.sorted else null)
      case None => Row(1, if (cdf) 4 else 2, null, null)
    }
    val logDir = new Path(rootPath, "_delta_log")
    /** One checkpoint-shaped parquet written atomically: tmp dir → single
      * part → rename to `dest`. Returns dest's FileStatus (size/mtime feed
      * V2 sidecar actions). */
    def writeOneParquet(frameRows: Seq[Row], schema: StructType,
        dest: Path): org.apache.hadoop.fs.FileStatus = {
      val tmp = new Path(logDir, s"_cp_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      spark.createDataFrame(spark.sparkContext.parallelize(frameRows, 1), schema)
        .coalesce(1).write.parquet(tmp.toString)
      val part = {
        val it = fs.listFiles(tmp, true)
        var found: Option[Path] = None
        while (it.hasNext && found.isEmpty) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet")) found = Some(f.getPath)
        }
        found.getOrElse(throw DeltaReadException(s"`$path`: checkpoint write produced no part"))
      }
      if (!fs.rename(part, dest)) {
        fs.delete(tmp, true)
        throw DeltaReadException(s"`$path`: checkpoint file ${dest.getName} already exists")
      }
      fs.delete(tmp, true)
      fs.getFileStatus(dest)
    }
    val metaRow = Row(st.tableId.orNull, schemaJson, st.partCols, st.conf)
    val addStructRows: Seq[Row] = st.live.toSeq.map { case (p, e) =>
      val dvRow = e.dv.map(d =>
        Row(d.storageType, d.pathOrInlineDv, d.offset.map(Int.box).orNull,
          d.sizeInBytes, d.cardinality)).orNull
      Row(p, e.partitionValues, e.size, e.modificationTime, false, e.stats.orNull, dvRow,
        e.baseRowId.map(Long.box).orNull,
        e.defaultRowCommitVersion.map(Long.box).orNull)
    }
    val txnRows = st.txnVersions.toSeq
    val domRows = st.domains.toSeq.map { case (d, c) => Row(d, c, false) }
    val featureV2 = st.protocol.exists(p => p.readerFeatures.contains("v2Checkpoint") ||
      demandedWriterFeatures(p).contains("v2Checkpoint"))
    // delta.checkpointPolicy=v2 also selects the V2 shape — but only with
    // the protocol feature declared: a v2-shaped checkpoint on a protocol
    // that never listed v2Checkpoint would be invisible to name-
    // constructing external readers
    val policyV2 = st.conf.get("delta.checkpointPolicy").contains("v2")
    if (policyV2 && !featureV2) throw DeltaReadException(
      s"`$path`: delta.checkpointPolicy=v2 but the protocol does not list " +
        "the v2Checkpoint feature — upgrade the protocol first")
    val v2 = featureV2 || policyV2
    // delta.checkpoint.writeFormat picks the V2 MANIFEST encoding (the
    // delta-spark property): parquet (default) or json — one action per
    // line like a commit; file actions stay in parquet sidecars either way
    val jsonManifest = st.conf.get("delta.checkpoint.writeFormat")
      .map(_.toLowerCase).contains("json")
    if (jsonManifest && !v2) throw DeltaReadException(
      s"`$path`: delta.checkpoint.writeFormat=json applies to V2 " +
        "checkpoints only (classic checkpoints are parquet by spec)")
    var multiPartCount: Option[Int] = None
    val nActions: Long =
      if (v2 && jsonManifest) {
        // V2 with a JSON manifest: same actions as the parquet manifest,
        // newline-delimited JSON (the commit encoding) — the faster-to-
        // write form for commit-time checkpointing; readers (ours
        // included) ingest both encodings
        val sidecarJson: Seq[String] =
          if (addStructRows.isEmpty) Nil
          else {
            val name = s"${java.util.UUID.randomUUID()}.parquet"
            val stt = writeOneParquet(addStructRows.map(Row(_)),
              StructType(Seq(cpSchema("add"))),
              new Path(new Path(logDir, "_sidecars"), name))
            Seq(s"""{"sidecar":{"path":${mapper.writeValueAsString(name)},"sizeInBytes":${stt.getLen},"modificationTime":${stt.getModificationTime}}}""")
          }
        val protoJson = st.protocol.map(_.json).getOrElse(
          s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":${if (cdf) 4 else 2}}}""")
        val metaNode = mapper.createObjectNode()
        metaNode.put("id", st.tableId.orNull)
        val fmtNode = metaNode.putObject("format")
        fmtNode.put("provider", "parquet"); fmtNode.putObject("options")
        metaNode.put("schemaString", schemaJson)
        val pcArr = metaNode.putArray("partitionColumns")
        st.partCols.foreach(pcArr.add)
        val confNode = metaNode.putObject("configuration")
        st.conf.foreach { case (k, v) => confNode.put(k, v) }
        val manifestLines =
          Seq(s"""{"checkpointMetadata":{"version":${st.version}}}""",
            protoJson,
            s"""{"metaData":${mapper.writeValueAsString(metaNode)}}""") ++
            st.txnVersions.toSeq.map { case (app, v) =>
              s"""{"txn":{"appId":${mapper.writeValueAsString(app)},"version":$v}}"""
            } ++
            st.domains.toSeq.map { case (d, c) =>
              s"""{"domainMetadata":{"domain":${mapper.writeValueAsString(d)},"configuration":${mapper.writeValueAsString(c)},"removed":false}}"""
            } ++ sidecarJson
        val dest = new Path(logDir,
          f"${st.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.json")
        val out = fs.create(dest, false)
        try out.write((manifestLines.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        manifestLines.size.toLong + addStructRows.size
      } else if (v2) {
        // V2 (PROTOCOL.md "V2 Checkpoint Table Feature"): file actions live
        // in a `_sidecars/` parquet; the UUID-named manifest carries the
        // REQUIRED checkpointMetadata action, protocol/metaData/txn, and one
        // sidecar pointer per sidecar file. Classic naming is forbidden for
        // such tables — a classic-named file would shadow the manifest in
        // name-constructing readers and drop checkpointMetadata.
        val sidecarField = StructField("sidecar", StructType(Seq(
          StructField("path", StringType),
          StructField("sizeInBytes", LongType),
          StructField("modificationTime", LongType))))
        val manifestSchema = StructType(Seq(
          StructField("checkpointMetadata", StructType(Seq(
            StructField("version", LongType),
            StructField("tags", pvType)))),
          cpSchema("protocol"), cpSchema("metaData"), cpSchema("txn"),
          cpSchema("domainMetadata"), sidecarField))
        val sidecars: Seq[Row] =
          if (addStructRows.isEmpty) Nil
          else {
            val name = s"${java.util.UUID.randomUUID()}.parquet"
            val stt = writeOneParquet(addStructRows.map(Row(_)),
              StructType(Seq(cpSchema("add"))),
              new Path(new Path(logDir, "_sidecars"), name))
            Seq(Row(name, stt.getLen, stt.getModificationTime))
          }
        val manifestRows =
          Seq(Row(Row(st.version, null), null, null, null, null, null),
            Row(null, protoRow, null, null, null, null),
            Row(null, null, metaRow, null, null, null)) ++
            txnRows.map { case (app, v) => Row(null, null, null, Row(app, v), null, null) } ++
            domRows.map(d => Row(null, null, null, null, d, null)) ++
            sidecars.map(sc => Row(null, null, null, null, null, sc))
        writeOneParquet(manifestRows, manifestSchema, new Path(logDir,
          f"${st.version}%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet"))
        manifestRows.size.toLong + addStructRows.size
      } else {
        val rows =
          Seq(Row(protoRow, null, null, null, null), Row(null, metaRow, null, null, null)) ++
            txnRows.map { case (app, v) => Row(null, null, Row(app, v), null, null) } ++
            addStructRows.map(Row(null, null, null, _, null)) ++
            domRows.map(d => Row(null, null, null, null, d))
        if (rows.size <= partSize) {
          writeOneParquet(rows, cpSchema,
            new Path(logDir, f"${st.version}%020d.checkpoint.parquet"))
          rows.size.toLong
        } else {
          // multi-part classic: <v>.checkpoint.<i>.<n>.parquet, 1-based,
          // actions split across parts; `parts` lands in _last_checkpoint
          val chunks = rows.grouped(partSize).toSeq
          val n = chunks.size
          chunks.zipWithIndex.foreach { case (chunk, i) =>
            writeOneParquet(chunk, cpSchema, new Path(logDir,
              f"${st.version}%020d.checkpoint.${i + 1}%010d.$n%010d.parquet"))
          }
          multiPartCount = Some(n)
          rows.size.toLong
        }
      }
    val lc = fs.create(new Path(logDir, "_last_checkpoint"), true)
    val partsField = multiPartCount.map(n => s""","parts":$n""").getOrElse("")
    try lc.write(
      s"""{"version":${st.version},"size":$nActions$partsField}""".getBytes("UTF-8"))
    finally lc.close()
    st.version
  }

  /** Bytes a copy-on-write data write will produce, as the log counts
    * them: the rewritten files' `size` plus `insertedRows` at the table's
    * mean bytes per row (live `size` over live `numRecords`). None when
    * inserted rows cannot be priced: no live file carries `numRecords`. */
  private def cowBytes(st: Snapshot, rewritten: Seq[String],
      insertedRows: Long): Option[Long] = {
    val rewrittenBytes = rewritten.map(st.live(_).size).sum
    if (insertedRows <= 0) Some(rewrittenBytes)
    else {
      val counted = st.live.values.flatMap(e => loggedRows(e).map(n => (e.size, n)))
      val rows = counted.map(_._2).sum
      if (rows <= 0) None
      else Some(rewrittenBytes +
        math.ceil(insertedRows * (counted.map(_._1).sum.toDouble / rows)).toLong)
    }
  }

  /** Distributed parquet write into a temp dir under `rootPath`, then move
    * each part (preserving hive partition dirs) under the root — returns
    * one NewFile per part with true size and footer-derived stats.
    *
    * Output sizing (the one file-size rule for copy-on-write; ZORDER
    * sizes by rows instead, `targetFileRows`): an unpartitioned write
    * given `bytes` (the log's estimate of what it rewrites and inserts,
    * see [[cowBytes]]) is coalesced to
    * `max(1, ceil(bytes / spark.sql.files.maxPartitionBytes))` partitions,
    * so each output file holds about one read split. Without it a MERGE
    * writes one file per shuffle partition of its join, and every later
    * MERGE scans, joins and rewrites all of them: a stream of small
    * upserts grows its table and its per-batch cost with every batch.
    * `coalesce` adds no shuffle and never raises the width, but it sets
    * the task count of the whole stage back to the last exchange: a caller
    * passes `bytes` only for a frame whose scan reads no more than the
    * bytes counted (MERGE reads just the files it rewrites). */
  private def writeDataFiles(df: DataFrame, rootPath: Path, partCols: Seq[String],
      options: Map[String, String],
      subDir: Option[String] = None, bytes: Option[Long] = None): Seq[NewFile] = {
    val spark = df.sparkSession
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(rootPath,
      s"_graft_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    // hash-distribute by the partition columns before a partitioned fanout
    // (delta-spark's optimized-write shape): without it every task writes a
    // file per distinct tuple it holds — T × P small files at scale. Width
    // pinned (numShufflePartitions) so AQE cannot coalesce the fanout to
    // one serial writer task at fixture sizes; tuple→task affinity (at
    // most one file per tuple) is unchanged.
    val dfW = if (partCols.isEmpty) bytes.fold(df) { b =>
        val split = spark.sessionState.conf.filesMaxPartitionBytes
        df.coalesce(math.max(1L, (b + split - 1) / split).toInt)
      }
      else df.repartition(
        math.max(spark.sessionState.conf.numShufflePartitions,
          spark.sparkContext.defaultParallelism),
        partCols.map(org.apache.spark.sql.functions.col): _*)
    var w = dfW.write.mode("overwrite")
    options.get("compression").foreach(v => w = w.option("compression", v))
    options.get("max_file_size_rows").foreach(v => w = w.option("maxRecordsPerFile", v))
    if (partCols.nonEmpty) w = w.partitionBy(partCols: _*)
    // INT64-micros timestamps (not Spark's INT96 default): INT96 chunk
    // stats are unusable (deprecated ordering), so add.stats would lose
    // timestamp bounds — no skipping, no metadata-only min/max
    IcebergSink.withMicrosTimestamps(spark) { w.parquet(tmp.toString) }
    try {
      val tmpQ = fs.makeQualified(tmp).toString
      val files = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      val it = fs.listFiles(tmp, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) files += st
      }
      // per-file finalize (rename + footer-stat read) in parallel on the
      // driver — independent files, input-order results (ParallelFiles);
      // ONE hadoop conf for every footer read instead of one per file
      val conf = spark.sessionState.newHadoopConf()
      ParallelFiles.mapOrdered(files.result()) { st =>
        // partition values from the hive path components Spark laid down
        val inTmp = fs.makeQualified(st.getPath).toString
          .stripPrefix(tmpQ).stripPrefix("/")
        val relToRoot = subDir.fold(inTmp)(d => s"$d/$inTmp")
        val comps = inTmp.split('/')
        val pv: Map[String, String] = comps.dropRight(1).flatMap { c =>
          c.split("=", 2) match {
            case Array(k, v) =>
              val dec = java.net.URLDecoder.decode(v, "UTF-8")
              Some(k -> (if (dec == "__HIVE_DEFAULT_PARTITION__") null else dec))
            case _ => None
          }
        }.toMap
        // footer read BEFORE the rename from the listing's status (skips
        // the length-lookup getFileStatus inside ParquetFileReader.open
        // AND the post-rename re-stat: rename changes neither bytes,
        // length nor mtime)
        val stats = footerStats(conf, st, df.schema, partCols)
        val dest = new Path(rootPath, relToRoot)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(st.getPath, dest))
          throw DeltaReadException(s"`$rootPath`: failed to move ${st.getPath} into the table")
        NewFile(relToRoot, st.getLen, st.getModificationTime, pv, stats)
      }
    } finally fs.delete(tmp, true)
  }

  /** DELETE FROM — row-level deletion on a native Delta table (copy-on-
    * write, the delta-spark DELETE arrangement): ONE pruned scan finds the
    * files that actually hold matching rows (predicate pushdown + the
    * log's stats skip everything else), only those files rewrite — their
    * surviving rows land as new files via the same partitioned write path
    * as COPY — and one commit tombstones the originals (dataChange=true)
    * and adds the rewrites. On a `change_data_feed` table the commit also
    * carries a `cdc` action whose change file holds the deleted rows as
    * `_change_type='delete'` — so the CDF reader (l11) reports EXACTLY the
    * deleted rows, not whole-file noise. Returns the number of rows
    * deleted (0 = no commit written).
    *
    * `predicateSql` may reference data AND partition columns (files are
    * scanned with their log partition values attached). Scope gates as the
    * writer: no checkpoints, no column mapping, no deletion vectors. */
  def deleteWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String): Long =
    copyOnWriteDml(spark, path, predicateSql, Map.empty)

  /** UPDATE — row-level update on a native Delta table, same copy-on-write
    * core as DELETE: only files holding matching rows rewrite, carrying
    * their non-matching rows unchanged and their matching rows transformed
    * by `setExprs` (column → SQL expression over the PRE-update row; a
    * partition column may be set — rewritten rows land in their new
    * partition directories). On a CDF table the commit's cdc files carry
    * update_preimage + update_postimage rows. Returns rows updated. */
  def updateWhere(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, setExprs: Map[String, String]): Long = {
    require(setExprs.nonEmpty, "updateWhere needs at least one SET column")
    copyOnWriteDml(spark, path, predicateSql, setExprs)
  }

  /** DELETE via DELETION VECTORS — Delta's merge-on-read strategy: matched
    * physical row positions per file serialize to a roaring bitmap
    * (`sources/DeletionVectors.RoaringBitmapArray`, the same codec the
    * reader decodes), and one commit re-adds each affected file with a
    * `deletionVector` descriptor — NO data rewritten, O(matched rows).
    * Small bitmaps inline into the log (storageType "i", Z85); larger ones
    * land in `deletion_vector_<uuid>.bin` files written BY EXECUTORS
    * (storageType "u" — 1-byte format version, 4-byte BE length, bitmap,
    * CRC-32), so the driver only ever sees bounded per-file descriptors.
    * The write→read DV loop closes against the native reader (spec + w07).
    *
    * On a table already carrying DVs, an affected file's new vector is the
    * union of its old and new dead positions (a DV replaces its
    * predecessor). Rejects: CDF tables (use copy-on-write DELETE, which
    * emits exact cdc rows) and column mapping mode `id`. */
  def deleteWhereDv(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String): Long = dvDml(spark, path, predicateSql, Map.empty)

  /** UPDATE via DELETION VECTORS — the other half of Delta's merge-on-read
    * DML (what delta-spark does when DVs are enabled): matched rows' old
    * positions go dead through per-file DVs, and their SET-transformed
    * images append as NEW data files in the SAME commit — no survivor
    * rewriting, O(matched rows). SET expressions see the PRE-update row.
    * Same gates as the DV delete (no CDF, no existing DVs, no column
    * mapping). */
  def updateWhereDv(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, sets: Map[String, String]): Long = {
    require(sets.nonEmpty, "updateWhereDv needs at least one SET expression")
    dvDml(spark, path, predicateSql, sets)
  }

  private def dvDml(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, setExprs: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    import graft.sources.DeletionVectors
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    writerGates(st, path, removesData = true,
      if (setExprs.nonEmpty) "DV UPDATE" else "DV DELETE")
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` needs parquet field ids for " +
          "DML; use a delta connector jar")
    if (st.conf.get("delta.enableChangeDataFeed").exists(_.toBoolean))
      throw DeltaReadException(
        s"`$path`: DV deletes on a change-data-feed table would skip the cdc " +
          "rows the feed promises; use the copy-on-write DELETE instead")
    if (st.live.isEmpty) return 0L
    val schema = DataType.fromJson(st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))).asInstanceOf[StructType]
    val partColsT = st.partCols
    // mode=name: files carry physical names, the predicate/SET see logical
    val mapped = cmMode == "name"
    val physByLogical: Map[String, String] =
      schema.fields.map(f => f.name -> physicalName(f)).toMap
    def physKey(c: String): String = physByLogical.getOrElse(c, c)
    def toPhys(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(df.columns.map(c =>
        col(c).as(physByLogical.getOrElse(c, c))).toSeq: _*)

    def resolve(rel: String): String = {
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }
    def norm(s: String): String = new Path(s).toString
    val relByAbs: Map[String, String] =
      st.live.keys.map(r => norm(resolve(r)) -> r).toMap

    // one scan, log partitions attached, physical row index per file
    val dataFields = schema.fields.filterNot(f => partColsT.contains(f.name))
    val dataSchema0 = StructType(dataFields.map(f =>
      StructField(if (mapped) physicalName(f) else f.name, f.dataType, f.nullable)))
    // row tracking: a DV never moves surviving rows (ids are position-
    // stable by construction), but an UPDATE's post-SET images land in NEW
    // files — they must carry their row ids materialized
    val rtOn = rowTrackingEnabled(st)
    val rtMat: Option[(String, String)] = if (rtOn) Some(rtMatCols(st, path)) else None
    val matColNames: Seq[String] = rtMat.toSeq.flatMap { case (a, b) => Seq(a, b) }
    val dataSchema =
      if (!rtOn) dataSchema0
      else StructType(dataSchema0.fields ++
        matColNames.map(n => StructField(n, LongType, nullable = true)))
    val byTuple = st.live.toSeq.groupBy(_._2.partitionValues)
    val scans = byTuple.toSeq.map { case (pv, files) =>
      var s0 = spark.read.schema(dataSchema).parquet(files.map(f => resolve(f._1)): _*)
      val metaCols = Seq(col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))
      if (mapped)
        s0 = s0.select(dataFields.map(f =>
          col(physicalName(f)).as(f.name)).toSeq ++ matColNames.map(col) ++ metaCols: _*)
      partColsT.foreach { pc =>
        val f = schema(schema.fieldIndex(pc))
        s0 = s0.withColumn(pc, lit(pv.getOrElse(physKey(pc), null)).cast(f.dataType))
      }
      if (mapped) s0.select(schema.fieldNames.map(col).toSeq ++
        matColNames.map(col) ++ Seq(col("__file"), col("__pos")): _*)
      else s0.select(schema.fieldNames.map(col).toSeq ++
        matColNames.map(col) ++ metaCols: _*)
    }
    val isUpdate = setExprs.nonEmpty
    setExprs.keys.find(k => !schema.fieldNames.contains(k)).foreach { k =>
      throw DeltaReadException(s"`$path`: SET column `$k` is not in the table schema")
    }
    var matchedRows = scans.reduce(_ unionByName _).filter(expr(predicateSql))
    // DV MERGING (what delta-spark does on a second DV delete): rows the
    // EXISTING vectors already killed are excluded from matching — a
    // re-match would overcount and resurrect-by-replace — and an affected
    // file's new vector is the UNION of its old positions and the fresh
    // ones (a DV REPLACES its predecessor; it never stacks)
    val existingDvs: Seq[(String, graft.sources.DeletionVectors.Descriptor)] =
      st.live.toSeq.flatMap { case (rel, e) => e.dv.map(resolve(rel) -> _) }
    val deadDf: Option[DataFrame] =
      if (existingDvs.isEmpty) None
      else Some(graft.sources.DeletionVectors.deletedRows(spark,
        existingDvs.map { case (abs, d) =>
          graft.sources.DeletionVectors.Task(graft.sources.PathKeys.key(abs),
            d.storageType,
            if (d.storageType == "i") d.pathOrInlineDv else "",
            d.absolutePath(rootPath).map(_.toString).getOrElse(""),
            d.offset.getOrElse(0).toLong, d.sizeInBytes, "dv")
        }))
    deadDf.foreach { dead =>
      matchedRows = matchedRows.join(dead,
        graft.sources.PathKeys.keyCol(col("__file")) === col("__dv_file") &&
          col("__pos") === col("__dv_pos"), "left_anti")
    }
    // statement-lifetime pin on the UPDATE path: matchedRows feeds BOTH
    // the descriptor pass and the post-SET image write — unpinned, each
    // re-ran the full scan + predicate (guide §1.2). The DELETE path has
    // one consumer and skips the pin.
    if (isUpdate)
      matchedRows = matchedRows
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val matched0 = matchedRows.select(col("__file"), col("__pos"))
    val matched = deadDf match {
      case None => matched0
      case Some(dead) =>
        val affectedFiles = matched0.select(col("__file"),
          graft.sources.PathKeys.keyCol(col("__file")).as("__afk")).distinct()
        val carried = dead.join(affectedFiles, col("__dv_file") === col("__afk"))
          .select(col("__file"), col("__dv_pos").as("__pos"))
        matched0.unionByName(carried)
    }

    // per-file bitmaps built and (when large) written in EXECUTORS; the
    // driver collects only one descriptor row per affected file
    val confEntries: Seq[(String, String)] =
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    val confBc = spark.sparkContext.broadcast(confEntries)
    val rootStr = rootPath.toString
    import spark.implicits._
    def descriptorJob(): Seq[(String, String, String, Int, Long)] =
      matched.as[(String, Long)].groupByKey(_._1).mapGroups { (file, it) =>
        val positions = it.map(_._2).toArray.toSeq
        val bytes = DeletionVectors.RoaringBitmapArray.serialize(positions)
        if (bytes.length <= 1024) {
          (file, "i", DeletionVectors.Z85.encode(bytes), bytes.length, positions.size.toLong)
        } else {
          val c = new org.apache.hadoop.conf.Configuration(false)
          confBc.value.foreach { case (k, v) => c.set(k, v) }
          val uuid = java.util.UUID.randomUUID()
          val dvPath = new Path(rootStr, s"deletion_vector_$uuid.bin")
          val out = dvPath.getFileSystem(c).create(dvPath, false)
          try {
            out.write(1) // format version
            out.writeInt(bytes.length) // big-endian
            out.write(bytes)
            val crc = new java.util.zip.CRC32(); crc.update(bytes)
            out.writeInt(crc.getValue.toInt)
          } finally out.close()
          val bb = java.nio.ByteBuffer.allocate(16)
          bb.putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits)
          (file, "u", DeletionVectors.Z85.encode(bb.array()), bytes.length, positions.size.toLong)
        }
      }.collect().toSeq

    // UPDATE: the SET-transformed images of the matched rows append as
    // new data files in the same commit (SET sees the PRE-update row)
    def imageJob(): Seq[NewFile] = {
        val transforms = schema.fields.map { f =>
          setExprs.get(f.name)
            .map(e => expr(e).cast(f.dataType).as(f.name))
            .getOrElse(col(f.name))
        }.toSeq
        val images = rtMat match {
          case None => matchedRows.select(transforms: _*)
          case Some((matId, matVer)) =>
            import org.apache.spark.sql.functions.{broadcast, coalesce}
            // an updated row keeps its id (materialized); its commit
            // version re-defaults to THIS commit (materialized null)
            matchedRows
              .withColumn("__rt_key", graft.sources.PathKeys.keyCol(col("__file")))
              .join(broadcast(rtInfoDf(spark, st, resolve)), Seq("__rt_key"), "left")
              .select(transforms ++ Seq(
                coalesce(col(matId), col("__rt_base") + col("__pos")).as(matId),
                lit(null).cast("long").as(matVer)): _*)
        }
        // post-SET images are rows this writer ADDS — constraint-check them
        validateIncomingRows(st, images, path)
        writeDataFiles(toPhys(images), rootPath, partColsT.map(physKey), Map.empty)
    }
    // the descriptor pass and (on UPDATE) the image write are independent
    // consumers of the pinned matched rows — run them CONCURRENTLY
    // (guide §2.6). Zero matches ⇒ both produce nothing ⇒ return 0 with
    // no commit, exactly as before.
    val (descriptors, imageFiles) =
      if (!isUpdate) (descriptorJob(), Seq.empty[NewFile])
      else IcebergSink.withMicrosTimestamps(spark) {
        ParallelFiles.both(descriptorJob(), imageJob())
      }
    if (descriptors.isEmpty) return 0L

    val nowMs = System.currentTimeMillis()
    val lines = Seq.newBuilder[String]
    // a DV commit against a protocol that never declared the feature is
    // invisible to compliant external readers (they may ignore the
    // descriptor and resurrect deleted rows) — the first DV commit
    // upgrades to reader 3 / writer 7 with the deletionVectors feature,
    // legacy-implied features carried over per PROTOCOL.md
    val curProto = st.protocol.getOrElse(Protocol(1, 2, Set.empty, Set.empty))
    if (!curProto.supportsDv) lines += curProto.withDeletionVectors.json
    val alloc = new RowIdAllocator(st, st.version + 1, path)
    descriptors.foreach { case (abs, storage, payload, size, card) =>
      val rel = relByAbs.getOrElse(norm(abs),
        throw DeltaReadException(s"`$path`: scanned file $abs is not in the live set"))
      val e = st.live(rel)
      val dv = DeletionVectors.Descriptor(storage, payload,
        if (storage == "u") Some(1) else None, size, card)
      // stats keep the PHYSICAL numRecords (per protocol) but must flag
      // tightBounds:false — external engines serve COUNT(*)/skipping from
      // stats and would otherwise overcount the DV-deleted rows
      val loosened = e.stats.map { s0 =>
        val node = mapper.readTree(s0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        node.put("tightBounds", false)
        mapper.writeValueAsString(node)
      }
      // the re-add keeps the file's ORIGINAL base/default — rows never
      // moved, so their ids still derive from the original range
      lines += removeJson(rel, e, nowMs, dataChange = true)
      lines += addJson(rel, e.partitionValues, e.size, e.modificationTime,
        dataChange = true, loosened, rtEchoFields(e), Some(dv))
    }
    imageFiles.foreach(f => lines += alloc.add(f, dataChange = true))
    alloc.domainLine.foreach(lines += _)
    commit(fs, st, path, if (isUpdate) "UPDATE" else "DELETE",
      Seq("predicate" -> predicateSql, "strategy" -> "deletion-vector"), lines.result())
    // merged descriptors carry old ∪ new cardinality — report only the
    // rows THIS statement killed
    val carriedOld: Long = existingDvs.collect {
      case (abs, d) if descriptors.exists(x => norm(x._1) == norm(abs)) =>
        d.cardinality
    }.sum
    descriptors.map(_._5).sum - carriedOld
    } finally { if (isUpdate) matchedRows.unpersist(blocking = false) }
  }

  /** REORG ... APPLY (PURGE): materialize deletion vectors — ONLY the
    * DV-carrying files rewrite (their survivors, decoded by the same
    * executor-side DV machinery the reader uses); clean files are
    * untouched. After a purge the table is DV-free, so OPTIMIZE, RESTORE,
    * and further DML (whose gate, `requireNoDv`, reads the live set) work
    * again. Returns
    * (filesRewritten, rowsDropped). */
  def purgeDeletionVectors(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.DeletionVectors
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    // dataChange=false rewrite, like OPTIMIZE: legal under appendOnly
    writerGates(st, path, removesData = false, "REORG PURGE")
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` needs parquet field ids; " +
          "use a delta connector jar")
    val dvFiles = st.live.toSeq.filter(_._2.dv.isDefined)
    if (dvFiles.isEmpty) return (0, 0L)
    val schema = DataType.fromJson(st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))).asInstanceOf[StructType]
    val partColsT = st.partCols
    // mode=name: the purge never evaluates user expressions, so the whole
    // rewrite runs in PHYSICAL column names end to end
    def physName(f: StructField): String = if (cmMode == "name") physicalName(f) else f.name
    def physKey(c: String): String = physName(schema(schema.fieldIndex(c)))
    def resolve(rel: String): String = {
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }
    val dataSchema0 = StructType(schema.fields.filterNot(f => partColsT.contains(f.name))
      .map(f => StructField(physName(f), f.dataType, f.nullable)))
    // row tracking: the purge MOVES surviving rows into new files —
    // materialize their ids (and original commit versions) first
    val rtOn = rowTrackingEnabled(st)
    val rtMat: Option[(String, String)] = if (rtOn) Some(rtMatCols(st, path)) else None
    val matColNames: Seq[String] = rtMat.toSeq.flatMap { case (a, b) => Seq(a, b) }
    val dataSchema =
      if (!rtOn) dataSchema0
      else StructType(dataSchema0.fields ++
        matColNames.map(n => StructField(n, LongType, nullable = true)))
    // survivors of ONLY the DV'd files, dead positions anti-joined in
    // executors via the reader's decode machinery
    val dvPairs: Seq[(String, DeletionVectors.Descriptor)] =
      dvFiles.map { case (rel, e) => resolve(rel) -> e.dv.get }
    val byTuple = dvFiles.groupBy(_._2.partitionValues)
    val scans = byTuple.toSeq.map { case (pv, files) =>
      var s0 = spark.read.schema(dataSchema).parquet(files.map(f => resolve(f._1)): _*)
      // _metadata addressed on the direct scan, before the DV anti-join's
      // own joins make it unreachable; a DV'd file's surviving rows keep
      // their ORIGINAL physical positions, so base + row_index stays right
      if (rtOn) s0 = s0
        .withColumn("__rt_key", graft.sources.PathKeys.keyCol(col("_metadata.file_path")))
        .withColumn("__rt_idx", col("_metadata.row_index"))
      val cleaned = DeletionVectors.applyTo(spark, s0, dvPairs, rootPath)
      var s1 = cleaned
      partColsT.foreach { pc =>
        val f = schema(schema.fieldIndex(pc))
        s1 = s1.withColumn(physKey(pc), lit(pv.getOrElse(physKey(pc), null)).cast(f.dataType))
      }
      s1.select(schema.fieldNames.map(n => col(physKey(n))).toSeq ++
        matColNames.map(col) ++
        (if (rtOn) Seq(col("__rt_key"), col("__rt_idx")) else Nil): _*)
    }
    val survivors0 = scans.reduce(_ unionByName _)
    val survivors = rtMat match {
      case None => survivors0
      case Some((matId, matVer)) =>
        import org.apache.spark.sql.functions.{broadcast, coalesce}
        survivors0
          .join(broadcast(rtInfoDf(spark, st, resolve)), Seq("__rt_key"), "left")
          .withColumn(matId, coalesce(col(matId), col("__rt_base") + col("__rt_idx")))
          .withColumn(matVer, coalesce(col(matVer), col("__rt_def")))
          .drop("__rt_key", "__rt_idx", "__rt_base", "__rt_def")
    }
    val newFiles = writeDataFiles(survivors, rootPath, partColsT.map(physKey), Map.empty)
    val nowMs = System.currentTimeMillis()
    val alloc = new RowIdAllocator(st, st.version + 1, path)
    commit(fs, st, path, "REORG", Seq("applyPurge" -> "true"),
      // the remove must carry the removed version's DV: the protocol
      // reconciles on (path, dv-id), so a bare remove would leave the
      // DV'd add live and DUPLICATE the purged rows
      dvFiles.map { case (rel, e) => removeJson(rel, e, nowMs, dataChange = false) } ++
        newFiles.map(alloc.add(_, dataChange = false)) ++ alloc.domainLine)
    (dvFiles.size, dvFiles.map(_._2.dv.get.cardinality).sum)
  }

  /** A snapshot's rows as a copy-on-write statement (UPDATE/DELETE and
    * MERGE) reads them. Under column mapping mode `name` the data files,
    * partitionValues keys and rewritten/cdc files carry PHYSICAL names
    * while the caller's expressions see LOGICAL ones: `rows` reads
    * physical and renames to logical, `toPhys` renames back before a
    * write. */
  private final class CowTarget(spark: org.apache.spark.sql.SparkSession, path: String,
      st: Snapshot, schema: StructType, rootPath: Path,
      fs: org.apache.hadoop.fs.FileSystem) {
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit}
    private val mapped = st.columnMappingMode == "name"
    private val physByLogical: Map[String, String] =
      schema.fields.map(f => f.name -> physicalName(f)).toMap
    def physKey(c: String): String = physByLogical.getOrElse(c, c)
    def toPhys(df: DataFrame): DataFrame =
      if (!mapped) df
      else df.select(df.columns.map(c => col(c).as(physKey(c))).toSeq: _*)

    private def resolve(rel: String): String = {
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }
    // input_file_name() emits URI forms (file:///x); Path normalizes both
    // spellings to one key space
    private def norm(s: String): String = new Path(s).toString
    private lazy val relByAbs: Map[String, String] =
      st.live.keys.map(r => norm(resolve(r)) -> r).toMap
    /** The live file (relative, as the log names it) a scanned `__file` is. */
    def relOf(abs: String): String = relByAbs.getOrElse(norm(abs),
      throw DeltaReadException(s"`$path`: scanned file $abs is not in the live set"))

    // row tracking: rows a statement rewrites MOVE to new files, so the
    // scan computes each row's stable id up front — materialized value when
    // present, else file base + physical row position
    val rtOn: Boolean = rowTrackingEnabled(st)
    lazy val rtMat: Option[(String, String)] = if (rtOn) Some(rtMatCols(st, path)) else None

    /** The rows of `files` (rel path -> partition values), tagged with their
      * `__file` and, on a row-tracked table, their stable `__rt_id` and
      * `__rt_ver`. One scan per partition tuple with the log's values
      * attached (hive and non-hive layouts alike) reads just these files:
      * a filter on the nondeterministic `__file` would prune none. */
    def rows(files: Map[String, Map[String, String]]): DataFrame = {
      val partCols = st.partCols
      val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))
      val matColNames: Seq[String] = rtMat.toSeq.flatMap { case (a, b) => Seq(a, b) }
      val dataSchema = StructType(dataFields.map(f =>
        StructField(if (mapped) physicalName(f) else f.name, f.dataType, f.nullable)) ++
        matColNames.map(n => StructField(n, LongType, nullable = true)))
      val target0: DataFrame =
        if (files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(schema.fields :+ StructField("__file", StringType)))
        else files.toSeq.groupBy(_._2).toSeq.map { case (pv, group) =>
          var s0 = spark.read.schema(dataSchema).parquet(group.map(f => resolve(f._1)): _*)
          // _metadata must be addressed on the DIRECT scan, before any select
          if (rtOn) s0 = s0.withColumn("__rt_idx", col("_metadata.row_index"))
          if (mapped)
            s0 = s0.select(dataFields.map(f => col(physicalName(f)).as(f.name)).toSeq
              ++ matColNames.map(col)
              ++ (if (rtOn) Seq(col("__rt_idx")) else Nil): _*)
          partCols.foreach { pc =>
            val f = schema(schema.fieldIndex(pc))
            s0 = s0.withColumn(pc, lit(pv.getOrElse(physKey(pc), null)).cast(f.dataType))
          }
          s0.select(schema.fieldNames.map(col).toSeq ++
            Seq(input_file_name().as("__file")) ++
            matColNames.map(col) ++
            (if (rtOn) Seq(col("__rt_idx")) else Nil): _*)
        }.reduce(_ unionByName _)
      rtMat match {
        case None => target0
        case _ if files.isEmpty => target0
          .withColumn("__rt_id", lit(null).cast("long"))
          .withColumn("__rt_ver", lit(null).cast("long"))
        case Some((matId, matVer)) =>
          target0.withColumn("__rt_key", graft.sources.PathKeys.keyCol(col("__file")))
            .join(broadcast(rtInfoDf(spark, st, resolve)), Seq("__rt_key"), "left")
            .withColumn("__rt_id", coalesce(col(matId), col("__rt_base") + col("__rt_idx")))
            .withColumn("__rt_ver", coalesce(col(matVer), col("__rt_def")))
            .drop(Seq("__rt_key", "__rt_idx", "__rt_base", "__rt_def") ++ matColNames: _*)
      }
    }

    /** The `files` whose add.stats admit a row satisfying `predicateSql`,
      * pruned as the reader prunes (`LogFileIndex.mayMatch` over the
      * predicate's conjuncts, on physical names). A file without stats, or
      * a predicate that does not resolve against the schema alone, keeps
      * every file. */
    def mayMatch(files: Map[String, Map[String, String]],
        predicateSql: String): Map[String, Map[String, String]] = {
      import org.apache.spark.sql.catalyst.expressions.AttributeReference
      import org.apache.spark.sql.catalyst.plans.logical.Filter
      val cond = try {
        val analyzed = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
          .filter(predicateSql).queryExecution.analyzed
        val Filter(c, _) = org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
        c.transform { case a: AttributeReference => a.withName(physKey(a.name)) }
      } catch { case _: Exception => return files }
      val physSchema = StructType(schema.fields.map(f => f.copy(name = physKey(f.name))))
      files.filter { case (rel, _) =>
        st.live(rel).stats.flatMap(graft.sources.LogFileIndex.parseDeltaStats(_, physSchema, mapper))
          .forall(graft.sources.LogFileIndex.mayMatch(cond, _))
      }
    }
  }

  private def copyOnWriteDml(spark: org.apache.spark.sql.SparkSession, path: String,
      predicateSql: String, setExprs: Map[String, String]): Long = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    requireNoDv(st, rootPath, if (setExprs.nonEmpty) "UPDATE" else "DELETE")
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    writerGates(st, path, removesData = true,
      if (setExprs.nonEmpty) "UPDATE" else "DELETE")
    val partColsT = st.partCols
    val live: Map[String, Map[String, String]] =
      st.live.toMap.map { case (p, e) => p -> e.partitionValues }
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` needs parquet field ids for " +
          "DML; use a delta connector jar")
    if (live.isEmpty) return 0L
    val schema = DataType.fromJson(st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))).asInstanceOf[StructType]
    val cdf = st.conf.get("delta.enableChangeDataFeed").exists(_.toBoolean)
    val cow = new CowTarget(spark, path, st, schema, rootPath, fs)
    import cow.{physKey, rtMat, rtOn, toPhys}

    // DELETE whose predicate references ONLY partition columns is
    // METADATA-ONLY (delta-spark's partition-delete fast path — the
    // retention lever at 100 TB): every row in a file shares the file's
    // partitionValues, so the predicate decides per FILE and the commit is
    // pure remove actions — zero data bytes move. Exact counts come from
    // add.stats numRecords. CDF tables need no cdc files: bare dataChange
    // removes synthesize whole-file delete rows in the feed (the same
    // protocol rule RESTORE leans on, pinned in DeltaChanges). Falls
    // through to the copy-on-write path when a data column is referenced
    // or any matched file lacks row-count stats.
    if (setExprs.isEmpty && partColsT.nonEmpty) {
      val partOnly =
        try {
          val names = spark.sessionState.sqlParser.parseExpression(predicateSql)
            .collect {
              case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                u.nameParts
            }
          names.nonEmpty && names.forall(np => np.length == 1 &&
            partColsT.exists(_.equalsIgnoreCase(np.head)))
        } catch { case _: Exception => false }
      if (partOnly) {
        val pvSchema = StructType(
          StructField("__rel", StringType, nullable = false) +:
            partColsT.map(pc => StructField(pc, StringType)))
        val pvRows = st.live.toSeq.map { case (rel, e) =>
          org.apache.spark.sql.Row.fromSeq(rel +: partColsT.map(pc =>
            e.partitionValues.getOrElse(physKey(pc), null)))
        }
        val matched = spark.createDataFrame(
          spark.sparkContext.parallelize(pvRows, 1), pvSchema)
          .select(col("__rel") +: partColsT.map(pc =>
            col(pc).cast(schema(schema.fieldIndex(pc)).dataType).as(pc)): _*)
          .filter(expr(predicateSql)).select(col("__rel"))
          .collect().map(_.getString(0)).toSeq
        if (matched.isEmpty) return 0L
        val counts: Seq[Option[Long]] = matched.map { rel =>
          st.live(rel).stats.flatMap { s0 =>
            val n = mapper.readTree(s0).path("numRecords")
            if (n.isMissingNode || n.isNull) None else Some(n.asLong())
          }
        }
        if (counts.forall(_.isDefined)) {
          val now = System.currentTimeMillis()
          commit(fs, st, path, "DELETE",
            Seq("predicate" -> predicateSql, "strategy" -> "metadata-only-partition-drop"),
            matched.map(rel => removeJson(rel, st.live(rel), now, dataChange = true)))
          return counts.flatten.sum
        }
      }
    }

    val rtCarry: Seq[org.apache.spark.sql.Column] =
      if (rtOn) Seq(col("__rt_id"), col("__rt_ver")) else Nil
    val pred = expr(predicateSql)
    val affectedRel = cow.rows(cow.mayMatch(live, predicateSql)).filter(pred)
      .select(col("__file")).distinct()
      .collect().map(r => cow.relOf(r.getString(0))).toSeq
    if (affectedRel.isEmpty) return 0L

    // survivors + changed rows come from the SAME re-scan of only the
    // affected files
    val affectedScan = cow.rows(affectedRel.map(rel => rel -> live(rel)).toMap)
      .select(schema.fieldNames.map(col).toSeq ++ rtCarry: _*)
    val isUpdate = setExprs.nonEmpty
    setExprs.keys.find(k => !schema.fieldNames.contains(k)).foreach { k =>
      throw DeltaReadException(s"`$path`: SET column `$k` is not in the table schema")
    }
    val matching = affectedScan.filter(pred)
    // SET expressions evaluate against the PRE-update row (one projection,
    // standard UPDATE semantics — a SET referencing another SET column
    // sees the old value)
    val updated =
      if (!isUpdate) null
      else matching.select(schema.fields.map { f =>
        setExprs.get(f.name)
          .map(e => expr(e).cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq ++
        // an updated row KEEPS its row id; its commit version re-defaults
        // to THIS commit (materialized version null → add's default)
        (if (rtOn) Seq(col("__rt_id"), lit(null).cast("long").as("__rt_ver"))
         else Nil): _*)
    // the post-SET images are rows this writer ADDS — constraint-check them
    if (isUpdate) validateIncomingRows(st, updated, path)
    val survivors0 =
      if (isUpdate) affectedScan.filter(!pred).unionByName(updated)
      else affectedScan.filter(!pred)
    // preserved ids land under the table's materialized column names
    val survivors = rtMat match {
      case None => survivors0
      case Some((matId, matVer)) => survivors0
        .withColumnRenamed("__rt_id", matId)
        .withColumnRenamed("__rt_ver", matVer)
    }
    val changedCount = matching.count()
    val newFiles = writeDataFiles(toPhys(survivors), rootPath,
      partColsT.map(physKey), Map.empty)
    // cdc files follow the data-file shape: partition columns live in the
    // ACTION's partitionValues (hive dirs under _change_data), the file
    // holds data columns + _change_type — exactly what the CDF reader
    // (DeltaChanges) reconstructs
    val cdcFrame0 =
      if (!cdf) null
      else if (isUpdate)
        matching.withColumn("_change_type", lit("update_preimage"))
          .unionByName(updated.withColumn("_change_type", lit("update_postimage")))
      else matching.withColumn("_change_type", lit("delete"))
    // row tracking + CDF: change rows MATERIALIZE their stable ids into the
    // cdc files (preimage keeps its commit version; postimage's version
    // stays null — it re-defaults to THIS commit, which the CDF reader
    // serves from _commit_version). This is what lets a CDC consumer
    // correlate an update's pre/post pair without a key column.
    val cdcFrame =
      (if (cdcFrame0 == null) null
       else rtMat match {
         case None => cdcFrame0
         case Some((matId, matVer)) => cdcFrame0
           .withColumnRenamed("__rt_id", matId)
           .withColumnRenamed("__rt_ver", matVer)
       })
    val cdcFiles =
      if (cdcFrame == null) Nil
      else writeDataFiles(toPhys(cdcFrame), rootPath, partColsT.map(physKey),
        Map.empty, subDir = Some("_change_data"))

    commit(fs, st, path, if (isUpdate) "UPDATE" else "DELETE",
      Seq("predicate" -> predicateSql), rewriteActions(st, path, cdcFiles, affectedRel, newFiles))
    changedCount
  }

  /** MERGE INTO, copy-on-write, under the clause contract of
    * [[MergePlan]]: one join pass finds the files holding claimed target
    * rows and only those rewrite (delete-claimed rows dropped,
    * update-claimed rows SET-transformed, the rest carried), inserts
    * append as new files, and one commit carries it all — plus, on a CDF
    * table, exact change rows: `update_preimage`/`update_postimage` for
    * matched and by-source updates, `delete`, `insert`. Row tracking keeps
    * every target row's stable id and re-defaults updated rows' commit
    * versions. Returns (rows updated incl. by-source updates, rows
    * inserted); deletes show in the table itself and the feed. */
  def mergeInto(spark: org.apache.spark.sql.SparkSession, path: String,
      source: DataFrame, condSql: String,
      matchedClauses: Seq[MergeMatchedClause] = Nil,
      bySourceClauses: Seq[MergeMatchedClause] = Nil,
      insertClauses: Seq[MergeInsertClause] = Nil): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    requireNoDv(st, rootPath, "MERGE")
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    writerGates(st, path, removesData = true, "MERGE")
    val partColsT = st.partCols
    val live: Map[String, Map[String, String]] =
      st.live.toMap.map { case (p, e) => p -> e.partitionValues }
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` needs parquet field ids for " +
          "MERGE; use a delta connector jar")
    val schema = DataType.fromJson(st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))).asInstanceOf[StructType]
    val cdf = st.conf.get("delta.enableChangeDataFeed").exists(_.toBoolean)
    val cow = new CowTarget(spark, path, st, schema, rootPath, fs)
    import cow.{physKey, rtMat, rtOn, toPhys}
    val target = cow.rows(live)

    MergePlan.run(source, condSql, matchedClauses, bySourceClauses, insertClauses,
        schema.fieldNames.toSeq, m => DeltaReadException(s"`$path`: $m")) { plan =>
      val (matched, bySource) = (plan.matched, plan.bySource)
      val srcCols = schema.fieldNames.toSeq
      // the source side carries a marker, so the rewrite's LEFT join tells
      // matched target rows from unmatched ones
      val s1 = plan.sourceRows.withColumn("__s_matched", lit(true))
      val matchedPairs = plan.matchedPairs(target, s1)
      val bsRows = plan.bySourceRows(target, s1)
      val inserts =
        if (!plan.inserting) null
        else plan.pin(plan.insertRows(plan.unmatched(target, s1), schema.fields.toSeq))
      // a target row is (file, row hash)
      val stats = plan.stats(matchedPairs,
        org.apache.spark.sql.functions.xxhash64(srcCols.map(c => col(s"t.$c")): _*).as("__rid"),
        bsRows, Option(inserts), withFiles = true)
      if (!stats.changed) (0L, 0L)
      else {
        val affectedAbs = (stats.files ++ stats.bsFiles).distinct
        val affectedRel = affectedAbs.map(cow.relOf)
        val updatePairs = matchedPairs.filter(matched.updates)
        val deletePairs = matchedPairs.filter(matched.deletes)
        val bsDeleteRows = if (!bySource.active) null else bsRows.filter(bySource.deletes)
        val bsUpdateRows = if (!bySource.active) null else bsRows.filter(bySource.updates)

        // rewrites: affected files' rows — delete-claimed rows dropped,
        // update-claimed rows SET-transformed, the rest carried unchanged
        val doRewrite = (stats.updated > 0 || stats.deleted > 0 ||
          stats.bsUpdated > 0 || stats.bsDeleted > 0) && affectedAbs.nonEmpty
        val matchedFlag = coalesce(col("s.__s_matched"), lit(false))
        // the rewrite is a DIFFERENT join (left, affected files only), so it
        // classifies again: `__mc` gated by matchedFlag so an unconditional
        // clause never claims an unmatched row, `__bsc` its mirror. A flat
        // family adds neither column and tests matchedFlag alone.
        val joinedAff =
          if (!doRewrite) null
          else {
            // read just the affected files: the sized write below then runs
            // as many tasks as the bytes it rewrites need
            val j0 = cow.rows(affectedRel.map(rel => rel -> live(rel)).toMap)
              .alias("t").join(s1.alias("s"), plan.cond, "left")
            val j1 = if (!matched.condActive) j0
              else j0.withColumn("__mc", when(matchedFlag, matched.classify).otherwise(lit(-1)))
            if (!bySource.condActive) j1
            else j1.withColumn("__bsc",
              when(!matchedFlag, bySource.classify).otherwise(lit(-1)))
          }
        def kindHit(fam: MergePlan.Family, idxs: Seq[Int], flat: org.apache.spark.sql.Column) =
          if (idxs.isEmpty) lit(false)
          else if (!fam.condActive) flat
          else MergePlan.hit(col(fam.tag), idxs)
        val updFlag = kindHit(matched, matched.updIdx, matchedFlag)
        val delHit = kindHit(matched, matched.delIdx, matchedFlag)
        val bsUpdFlag = kindHit(bySource, bySource.updIdx, !matchedFlag)
        val bsDelHit = kindHit(bySource, bySource.delIdx, !matchedFlag)
        // the BY SOURCE branches join the rewrite expressions ONLY when a
        // by-source clause is live (the flat-plan discipline of
        // MergePlan.Family.condActive)
        val rewritten =
          if (!doRewrite) null
          else joinedAff.filter(
              if (bySource.active) !delHit && !bsDelHit
              else !delHit)
            .select(schema.fields.map { f =>
              val matchedBranch = when(updFlag, matched.setValue(f))
              (if (bySource.active) matchedBranch.when(bsUpdFlag, bySource.setValue(f))
               else matchedBranch)
                .otherwise(col(s"t.${f.name}")).as(f.name)
            }.toSeq ++ (rtMat match {
              // carried rows keep id+version; updated rows keep id, re-default
              // their commit version to THIS commit
              case None => Nil
              case Some((matId, matVer)) => Seq(
                col("t.__rt_id").as(matId),
                when(if (bySource.active) updFlag || bsUpdFlag else updFlag,
                  lit(null).cast("long"))
                  .otherwise(col("t.__rt_ver")).as(matVer))
            }): _*)
        def postImages(rows: DataFrame, fam: MergePlan.Family): DataFrame =
          rows.select(schema.fields.map(f => fam.setValue(f).as(f.name)).toSeq: _*)

        // post-SET images and inserted rows are rows this writer ADDS —
        // constraint-check them before any file moves
        if (doRewrite && stats.updated > 0)
          validateIncomingRows(st, postImages(updatePairs, matched), path)
        if (doRewrite && stats.bsUpdated > 0)
          validateIncomingRows(st, postImages(bsUpdateRows, bySource), path)
        if (stats.inserted > 0) validateIncomingRows(st, inserts, path)

        // ONE data write when possible: rewrite survivors and inserted rows
        // share the table schema, so they fuse into a single write job +
        // finalize + commit's worth of files. Row tracking keeps them
        // SEPARATE: rewritten files carry materialized ids while insert
        // files take fresh base+position ids at commit — fusing would move
        // insert rows into id ranges the unfused layout never assigns
        // (w14/w15/x22 pin ids), so on a row-tracked table the insert files
        // also keep their unsized layout. Built as THUNKS: the independent
        // writes run concurrently below.
        val rewrittenRel = if (doRewrite) affectedRel else Nil
        def writeData(df: DataFrame, bytes: Option[Long]): () => Seq[NewFile] =
          () => writeDataFiles(toPhys(df), rootPath, partColsT.map(physKey), Map.empty,
            bytes = bytes)
        val rewriteFrames = if (doRewrite) Seq(rewritten) else Nil
        val insertFrames = if (stats.inserted > 0) Seq(inserts) else Nil
        val dataThunks: Seq[() => Seq[NewFile]] =
          if (rtMat.isEmpty) (rewriteFrames ++ insertFrames).reduceOption(_ unionByName _)
            .toSeq.map(writeData(_, cowBytes(st, rewrittenRel, stats.inserted)))
          else rewriteFrames.map(writeData(_, cowBytes(st, rewrittenRel, 0L))) ++
            insertFrames.map(writeData(_, None))
        // row tracking + CDF: pre/post/delete change rows materialize their
        // stable ids into the cdc files (postimage version re-defaults to
        // THIS commit → null here, served from _commit_version by the
        // reader). Inserted rows' ids are allocated per-file AT COMMIT (base
        // + position of the new data files) — a cdc insert row has no
        // position in those files, so its materialized id is honestly null.
        def matCdc(df: DataFrame, idc: org.apache.spark.sql.Column,
            verc: org.apache.spark.sql.Column): DataFrame = rtMat match {
          case None => df
          case Some((matId, matVer)) =>
            df.withColumn(matId, idc.cast("long")).withColumn(matVer, verc.cast("long"))
        }
        // the target rows as they were, tagged `kind` (the id/version
        // columns stay for the caller to drop)
        def preImage(rows: DataFrame, kind: String): DataFrame = matCdc(
          rows.select(schema.fieldNames.map(c => col(s"t.$c").as(c)).toSeq ++
            (if (rtOn) Seq(col("t.__rt_id").as("__c_id"), col("t.__rt_ver").as("__c_ver"))
             else Nil): _*)
            .withColumn("_change_type", lit(kind)),
          col("__c_id"), col("__c_ver"))
        // update pre + post images for one family's update-claimed rows
        def updateImages(rows: DataFrame, fam: MergePlan.Family): DataFrame =
          preImage(rows, "update_preimage")
            .unionByName(matCdc(
              rows.select(schema.fields.map(f => fam.setValue(f).as(f.name)).toSeq ++
                (if (rtOn) Seq(col("t.__rt_id").as("__c_id"),
                  lit(null).cast("long").as("__c_ver")) else Nil): _*)
                .withColumn("_change_type", lit("update_postimage")),
              col("__c_id"), lit(null)))
            .drop("__c_id", "__c_ver")
        val cdcFrames = if (!cdf) Nil else Seq(
          if (doRewrite && stats.updated > 0) Some(updateImages(updatePairs, matched))
          else None,
          if (stats.deleted > 0)
            Some(preImage(deletePairs, "delete").drop("__c_id", "__c_ver"))
          else None,
          if (stats.inserted > 0)
            Some(matCdc(inserts.withColumn("_change_type", lit("insert")),
              lit(null), lit(null)))
          else None,
          if (stats.bsUpdated > 0) Some(updateImages(bsUpdateRows, bySource)) else None,
          if (stats.bsDeleted > 0)
            Some(preImage(bsDeleteRows, "delete").drop("__c_id", "__c_ver"))
          else None).flatten
        // all change-row frames share one schema (table columns +
        // _change_type [+ materialized id/version]) — union them into ONE
        // cdc write instead of one write job per change kind
        val cdcThunk: Seq[() => Seq[NewFile]] =
          if (cdcFrames.isEmpty) Nil
          else Seq(() => writeDataFiles(toPhys(cdcFrames.reduce(_ unionByName _)), rootPath,
            partColsT.map(physKey), Map.empty, subDir = Some("_change_data")))
        // CONCURRENT independent write jobs (guide §2.6 "overlap independent
        // jobs"): the data write(s) and the cdc write consume only pinned
        // statement frames and land in disjoint destinations. The
        // micros-timestamp session pin is HELD ACROSS the phase: each
        // write's nested pin then sets/restores the same value, so the
        // concurrent set/reset can never race a writer onto INT96.
        // ParallelFiles opens a fresh pool per call (threads inherit this
        // statement's job group), and results return in input order —
        // commit lines and row-id allocation see exactly the layout the
        // serial loop produced.
        val written = IcebergSink.withMicrosTimestamps(spark) {
          ParallelFiles.mapOrdered(dataThunks ++ cdcThunk)(t => t())
        }
        val newFiles = written.take(dataThunks.length).flatten
        val cdcFiles = written.drop(dataThunks.length).flatten

        commit(fs, st, path, "MERGE", Seq("predicate" -> condSql),
          rewriteActions(st, path, cdcFiles, rewrittenRel, newFiles))
        (stats.updated + stats.bsUpdated, stats.inserted)
      }
    }
  }

  /** OPTIMIZE — bin-pack small files (the lakehouse maintenance pass that
    * keeps a 100 TB table's file count sane): live files under
    * `min_file_bytes` are grouped per partition tuple, each group with ≥2
    * candidates is re-read (a distributed scan over just those files) and
    * rewritten as one file, and ONE commit tombstones the originals and
    * adds the replacements with `dataChange=false` — snapshot-identical,
    * invisible to the change feed and to streaming followers (both honor
    * the dataChange flag). Returns (filesCompacted, filesWritten).
    *
    * Scope gates mirror the writer: no checkpointed logs, no column
    * mapping (rewritten files must carry the same physical names). */
  def optimize(spark: org.apache.spark.sql.SparkSession, path: String,
      minFileBytes: Long = 128L * 1024 * 1024,
      // `OPTIMIZE t WHERE <partition predicate>` — the delta-spark shape:
      // compaction scoped to matching partition tuples only, so a daily
      // maintenance job touches ONE day of a 100 TB table, not all of it
      where: Option[String] = None): (Int, Int) = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    requireNoDv(st, rootPath, "OPTIMIZE")
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    // dataChange=false re-binning is legal under appendOnly (no rows change)
    writerGates(st, path, removesData = false, "OPTIMIZE")
    val partColsT = st.partCols
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` cannot be compacted by this " +
          "native OPTIMIZE; use a delta connector jar")
    val logicalSchema = DataType.fromJson(st.schemaJson.get).asInstanceOf[StructType]
    def physKeyOf(c: String): String = physicalName(logicalSchema(logicalSchema.fieldIndex(c)))
    val groups0 = st.live.toSeq.map { case (p, e) => p -> e }
      .filter(_._2.size < minFileBytes)
      .groupBy(_._2.partitionValues).filter(_._2.size >= 2)
    val groups = where match {
      case None => groups0
      case Some(pred) =>
        import org.apache.spark.sql.functions.{col, expr}
        if (partColsT.isEmpty) throw DeltaReadException(
          s"`$path`: OPTIMIZE ... WHERE needs a partitioned table")
        val names =
          try spark.sessionState.sqlParser.parseExpression(pred).collect {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.nameParts
          }
          catch { case e: Exception => throw DeltaReadException(
            s"`$path`: OPTIMIZE WHERE predicate does not parse: ${e.getMessage}") }
        if (names.isEmpty || !names.forall(np => np.length == 1 &&
            partColsT.exists(_.equalsIgnoreCase(np.head))))
          throw DeltaReadException(
            s"`$path`: OPTIMIZE ... WHERE must reference only partition " +
              s"columns (${partColsT.mkString(", ")})")
        val pvSchema = StructType(
          StructField("__i", IntegerType, nullable = false) +:
            partColsT.map(pc => StructField(pc, StringType)))
        val tuples = groups0.keys.toSeq
        val rows = tuples.zipWithIndex.map { case (pv, i) =>
          org.apache.spark.sql.Row.fromSeq(i +: partColsT.map(pc =>
            pv.getOrElse(physKeyOf(pc), null)))
        }
        val kept = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), pvSchema)
          .select(col("__i") +: partColsT.map(pc =>
            col(pc).cast(logicalSchema(logicalSchema.fieldIndex(pc)).dataType).as(pc)): _*)
          .filter(expr(pred)).select(col("__i"))
          .collect().map(_.getInt(0)).toSet
        groups0.filter { case (pv, _) => kept.contains(tuples.indexOf(pv)) }
    }
    if (groups.isEmpty) return (0, 0)
    // compaction rewrites bytes verbatim (schema-less read), so mapped
    // tables work as-is — but the rewritten file's stats must key by the
    // PHYSICAL names its footer carries
    val dataSchema =
      if (cmMode == "none") logicalSchema
      else StructType(logicalSchema.fields.map(f =>
        StructField(physicalName(f), f.dataType, f.nullable)))
    val partColsPhys = if (cmMode == "none") partColsT else partColsT.map(physKeyOf)
    val lines = Seq.newBuilder[String]
    // row tracking: compaction MOVES rows, so stable ids must materialize
    // into the hidden columns before positions renumber — each source row's
    // id is coalesce(already-materialized, file base + row position)
    val rtOn = rowTrackingEnabled(st)
    val alloc = new RowIdAllocator(st, st.version + 1, path)
    val rtMat: Option[(String, String)] = if (rtOn) Some(rtMatCols(st, path)) else None
    lazy val infoDf = rtInfoDf(spark, st, rel => {
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    })
    var removed = 0
    var added = 0
    groups.foreach { case (pv, files) =>
      val abs = files.map { case (rel, _) =>
        val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
        (if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
      }
      // distributed rewrite of exactly this group's files into one part
      val tmp = new Path(rootPath,
        s"_graft_opt_${java.util.UUID.randomUUID().toString.take(8)}")
      IcebergSink.withMicrosTimestamps(spark) {
        val src = rtMat match {
          case None => spark.read.parquet(abs: _*)
          case Some((matId, matVer)) =>
            import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit}
            val s0 = spark.read.option("mergeSchema", "true").parquet(abs: _*)
            val s1 = Seq(matId, matVer).foldLeft(s0)((d, n) =>
              if (d.schema.fieldNames.contains(n)) d
              else d.withColumn(n, lit(null).cast("long")))
            s1.withColumn("__rt_key",
                graft.sources.PathKeys.keyCol(col("_metadata.file_path")))
              .withColumn("__rt_idx", col("_metadata.row_index"))
              .join(broadcast(infoDf), Seq("__rt_key"), "left")
              .withColumn(matId, coalesce(col(matId), col("__rt_base") + col("__rt_idx")))
              .withColumn(matVer, coalesce(col(matVer), col("__rt_def")))
              .drop("__rt_key", "__rt_idx", "__rt_base", "__rt_def")
        }
        src.coalesce(1).write.parquet(tmp.toString)
      }
      val part = {
        val it = fs.listFiles(tmp, true)
        var found: Option[Path] = None
        while (it.hasNext && found.isEmpty) {
          val st = it.next()
          if (st.isFile && st.getPath.getName.endsWith(".parquet")) found = Some(st.getPath)
        }
        found.getOrElse(throw DeltaReadException(s"`$path`: compaction wrote no part"))
      }
      // destination keeps the partition dir of the first source file when
      // the layout is hive-style; otherwise lands at the root
      val relDir = files.head._1.split('/').dropRight(1).mkString("/")
      val destRel = (if (relDir.nonEmpty) relDir + "/" else "") +
        s"part-opt-${java.util.UUID.randomUUID().toString.take(8)}.parquet"
      val dest = new Path(rootPath, destRel)
      fs.mkdirs(dest.getParent)
      if (!fs.rename(part, dest))
        throw DeltaReadException(s"`$path`: failed to move compacted file")
      fs.delete(tmp, true)
      val destSt = fs.getFileStatus(dest)
      files.foreach { case (rel, e) =>
        lines += removeJson(rel, e, System.currentTimeMillis(), dataChange = false)
        removed += 1
      }
      lines += alloc.add(NewFile(destRel, destSt.getLen, destSt.getModificationTime, pv,
        footerStats(spark, dest, dataSchema, partColsPhys)), dataChange = false)
      added += 1
    }
    alloc.domainLine.foreach(lines += _)
    commit(fs, st, path, "OPTIMIZE", Nil, lines.result())
    (removed, added)
  }

  /** OPTIMIZE ZORDER BY — multi-dimensional data clustering, the
    * file-skipping lever for tables queried on SEVERAL columns: every live
    * file rewrites with rows range-partitioned by a Z-VALUE that
    * interleaves the bit-buckets of the given columns, so each output
    * file covers a tight z-range and its min/max stats are tight on EVERY
    * zorder column simultaneously (a plain sort tightens one column only).
    * `dataChange=false`: content is snapshot-identical — the change feed
    * and followers see nothing.
    *
    * Bucketing: numeric/date/timestamp columns rank equal-width over their
    * observed [min, max] (driver literals, one stats pass); string columns
    * bucket by xxhash64 — equal values cluster (point-lookup skipping);
    * range locality over strings needs a sort key, not a hash. NULLs land
    * in bucket 0. Unpartitioned, non-column-mapped tables (per-partition
    * z-subdivision is a connector-grade feature; loud reject). Returns
    * (filesRemoved, filesAdded). */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession, path: String,
      zorderBy: Seq[String], targetFileRows: Long = 1024 * 1024): (Int, Int) = {
    import org.apache.spark.sql.functions._
    require(zorderBy.nonEmpty, "optimizeZOrder needs at least one column")
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val st = DeltaLog.snapshot(spark, path)
    requireNoDv(st, rootPath, "OPTIMIZE ZORDER")
    if (!st.exists) throw DeltaReadException(s"`$path`: not a Delta table")
    writerGates(st, path, removesData = false, "OPTIMIZE ZORDER")
    if (st.partCols.nonEmpty) throw DeltaReadException(
      s"`$path`: ZORDER on a partitioned table needs per-partition " +
        "z-subdivision — use a delta connector jar")
    val cmMode = st.columnMappingMode
    if (cmMode != "none" && cmMode != "name")
      throw DeltaReadException(
        s"`$path`: column mapping mode `$cmMode` cannot be z-ordered by this " +
          "native OPTIMIZE; use a delta connector jar")
    val dataSchema = DataType.fromJson(st.schemaJson.getOrElse(
      throw DeltaReadException(s"`$path`: no metaData action"))).asInstanceOf[StructType]
    zorderBy.find(c => !dataSchema.fieldNames.contains(c)).foreach { c =>
      throw DeltaReadException(s"`$path`: ZORDER column `$c` is not in the table schema")
    }
    if (st.live.isEmpty) return (0, 0)
    val abs = st.live.keys.toSeq.map { rel =>
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      (if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }
    // mode=name: read PHYSICAL file columns, rename to logical so the
    // zorderBy expressions resolve; the clustered frame renames back to
    // physical before the rewrite below
    val mapped = cmMode == "name"
    val readSchema0 =
      if (!mapped) dataSchema
      else StructType(dataSchema.fields.map(f =>
        StructField(physicalName(f), f.dataType, f.nullable)))
    // row tracking: clustering MOVES every row — materialize stable ids
    // (coalesce of any prior materialization with base + position) before
    // the shuffle renumbers positions
    val rtOn = rowTrackingEnabled(st)
    val rtMat: Option[(String, String)] = if (rtOn) Some(rtMatCols(st, path)) else None
    val matColNames: Seq[String] = rtMat.toSeq.flatMap { case (a, b) => Seq(a, b) }
    val readSchema =
      if (!rtOn) readSchema0
      else StructType(readSchema0.fields ++
        matColNames.map(n => StructField(n, LongType, nullable = true)))
    val df00 = spark.read.schema(readSchema).parquet(abs: _*)
    val df0 = rtMat match {
      case None => df00
      case Some((matId, matVer)) =>
        val infoDf = rtInfoDf(spark, st, rel => {
          val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
          fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
        })
        df00.withColumn("__rt_key",
            graft.sources.PathKeys.keyCol(col("_metadata.file_path")))
          .withColumn("__rt_idx", col("_metadata.row_index"))
          .join(broadcast(infoDf), Seq("__rt_key"), "left")
          .withColumn(matId, coalesce(col(matId), col("__rt_base") + col("__rt_idx")))
          .withColumn(matVer, coalesce(col(matVer), col("__rt_def")))
          .drop("__rt_key", "__rt_idx", "__rt_base", "__rt_def")
    }
    val df =
      if (!mapped) df0
      else df0.select(dataSchema.fields.map(f =>
        col(physicalName(f)).as(f.name)).toSeq ++ matColNames.map(col): _*)
    // per-column bucket expressions (256 buckets = 8 bits each)
    val numericish: Set[DataType] = Set(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
    val zFields = zorderBy.map(c => dataSchema(dataSchema.fieldIndex(c)))
    val needStats = zFields.filter(f => numericish.contains(f.dataType))
    val ranges: Map[String, (Double, Double)] =
      if (needStats.isEmpty) Map.empty
      else {
        val aggs = needStats.flatMap(f => Seq(
          min(col(f.name).cast("double")), max(col(f.name).cast("double"))))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        needStats.zipWithIndex.map { case (f, i) =>
          val lo = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
          val hi = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
          f.name -> (lo, hi)
        }.toMap
      }
    val bucketExprs = zFields.map { f =>
      if (numericish.contains(f.dataType)) {
        val (lo, hi) = ranges(f.name)
        if (hi <= lo) lit(0L)
        else coalesce(least(lit(255L), greatest(lit(0L),
          floor((col(f.name).cast("double") - lit(lo)) * 256.0 / (hi - lo))
            .cast("long"))), lit(0L))
      } else coalesce(pmod(xxhash64(col(f.name)), lit(256L)), lit(0L))
    }
    val n = zFields.length
    val zExpr = (0 until 8).flatMap { b =>
      bucketExprs.zipWithIndex.map { case (bk, i) =>
        shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_ bitwiseOR _)
    // log-served row counts size the output; any file without stats falls
    // back to one count job (a partial sum would under-size silently)
    val recordCounts = st.live.values.toSeq.map(loggedRows)
    val totalRows =
      if (recordCounts.nonEmpty && recordCounts.forall(_.isDefined))
        recordCounts.flatten.sum
      else df.count()
    val numFiles = math.max(1L, (totalRows + targetFileRows - 1) / targetFileRows).toInt
    val clustered0 = df.withColumn("__z", zExpr)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val clustered =
      if (!mapped) clustered0
      else clustered0.select(dataSchema.fields.map(f =>
        col(f.name).as(physicalName(f))).toSeq ++ matColNames.map(col): _*)
    val newFiles = writeDataFiles(clustered, rootPath, Nil, Map.empty)
    val alloc = new RowIdAllocator(st, st.version + 1, path)
    val now = System.currentTimeMillis()
    commit(fs, st, path, "OPTIMIZE", Seq("zOrderBy" -> zorderBy.mkString(",")),
      st.live.toSeq.map { case (rel, e) => removeJson(rel, e, now, dataChange = false) } ++
        newFiles.map(alloc.add(_, dataChange = false)) ++ alloc.domainLine)
    (st.live.size, newFiles.size)
  }

  /** VACUUM — delete data files no live snapshot references, once they are
    * older than `retentionMs` (default 7 days, the delta-spark default;
    * pass 0 only when no reader could still be pinned to an old version).
    * Never touches `_delta_log`. Returns the number of files deleted. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, path: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val rootPath = new Path(path)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new Path(rootPath, "_delta_log")
    if (!fs.exists(logDir))
      throw DeltaReadException(s"`$path` is not a Delta table: no _delta_log directory")
    val state = DeltaLog.snapshot(spark, path)
    val rootQ = fs.makeQualified(rootPath).toString
    val liveAbs = state.live.keySet.map { rel =>
      val dp = new Path(java.net.URLDecoder.decode(rel, "UTF-8"))
      fs.makeQualified(if (dp.isAbsolute) dp else new Path(rootPath, dp)).toString
    }
    // live DELETION-VECTOR files are reachable only through
    // add.deletionVector descriptors, never add.path — resolve them the
    // way the reader does, or vacuum could orphan-collect a live DV (a
    // read error that resurfaces as unreadable deleted rows)
    val liveDvAbs: Set[String] = state.live.values.flatMap(_.dv)
      .flatMap(_.absolutePath(rootPath).map(p => fs.makeQualified(p).toString)).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    var deleted = 0
    val it = fs.listFiles(rootPath, true)
    while (it.hasNext) {
      val st = it.next()
      val q = fs.makeQualified(st.getPath).toString
      val relTop = q.stripPrefix(rootQ).stripPrefix("/").split('/').head
      val name = st.getPath.getName
      // candidates: data parquet files AND deletion-vector containers —
      // an orphaned DV (post-purge, post-overwrite) otherwise leaks forever
      val isCandidate = name.endsWith(".parquet") ||
        (name.endsWith(".bin") && name.startsWith("deletion_vector_"))
      if (st.isFile && isCandidate &&
        relTop != "_delta_log" && !relTop.startsWith("_graft_tmp") &&
        !liveAbs.contains(q) && !liveDvAbs.contains(q) &&
        st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false)
        deleted += 1
      }
    }
    deleted
  }

  /** Delta `add.stats` JSON from the written file's parquet footer:
    * numRecords + per-top-level-column min/max (types whose footer bounds
    * are faithful skipping fuel) + nullCount. Bounded driver work, one
    * footer per new file. */
  private[catalog] def footerStats(spark: org.apache.spark.sql.SparkSession, file: Path,
      schema: StructType, partCols: Seq[String]): String =
    footerStats(spark.sessionState.newHadoopConf(), file, schema, partCols)

  private[catalog] def footerStats(conf: org.apache.hadoop.conf.Configuration, file: Path,
      schema: StructType, partCols: Seq[String]): String =
    footerStatsIn(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
      schema, partCols)

  private[catalog] def footerStats(conf: org.apache.hadoop.conf.Configuration,
      status: org.apache.hadoop.fs.FileStatus,
      schema: StructType, partCols: Seq[String]): String =
    footerStatsIn(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
      schema, partCols)

  private def footerStatsIn(in: org.apache.parquet.hadoop.util.HadoopInputFile,
      schema: StructType, partCols: Seq[String]): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val numRecords = blocks.map(_.getRowCount).sum
      val root = mapper.createObjectNode()
      root.put("numRecords", numRecords)
      val minV = root.putObject("minValues")
      val maxV = root.putObject("maxValues")
      val nullC = root.putObject("nullCount")
      val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))
      dataFields.foreach { f =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == f.name))
        val sts = chunks.map(_.getStatistics).filter(s => s != null)
        if (sts.nonEmpty && sts.forall(_.isNumNullsSet))
          nullC.put(f.name, sts.map(_.getNumNulls).sum)
        val bounded = sts.filter(_.hasNonNullValue)
        if (bounded.nonEmpty && bounded.size == chunks.size) f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            val mins = bounded.map(_.genericGetMin.asInstanceOf[Number].longValue())
            val maxs = bounded.map(_.genericGetMax.asInstanceOf[Number].longValue())
            minV.put(f.name, mins.min); maxV.put(f.name, maxs.max)
          case FloatType | DoubleType =>
            val mins = bounded.map(_.genericGetMin.asInstanceOf[Number].doubleValue())
            val maxs = bounded.map(_.genericGetMax.asInstanceOf[Number].doubleValue())
            // NaN poisons ordering; footer bounds with NaN present are not
            // reliable skipping fuel — emit nothing for this column then
            if (!mins.exists(_.isNaN) && !maxs.exists(_.isNaN)) {
              minV.put(f.name, mins.min); maxV.put(f.name, maxs.max)
            }
          case StringType =>
            // genericGetMin returns parquet Binary whose toString is the
            // debug form ("Binary{3 reused bytes, ...}") — decode UTF-8 or
            // the skipping bounds are garbage and string predicates prune
            // LIVE files (caught by a kind='ivf' filter returning 0 rows)
            def utf8(v: Any): String = v match {
              case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
              case other => other.toString
            }
            // aggregate the per-rowgroup bounds in the SAME unsigned-byte
            // order parquet computed them in (= Spark's UTF8String runtime
            // order); Java String min/max is UTF-16 order, which disagrees
            // for supplementary-plane text — a file could then carry a
            // value below the stored min and get pruned while live
            val ord = Ordering.fromLessThan[String](
              (a, b) => graft.sources.LogFileIndex.utf8Compare(a, b) < 0)
            val mins = bounded.map(s => utf8(s.genericGetMin))
            val maxs = bounded.map(s => utf8(s.genericGetMax))
            minV.put(f.name, mins.min(ord)); maxV.put(f.name, maxs.max(ord))
          case DateType =>
            val mins = bounded.map(_.genericGetMin.asInstanceOf[Number].intValue())
            val maxs = bounded.map(_.genericGetMax.asInstanceOf[Number].intValue())
            minV.put(f.name, java.time.LocalDate.ofEpochDay(mins.min.toLong).toString)
            maxV.put(f.name, java.time.LocalDate.ofEpochDay(maxs.max.toLong).toString)
          case TimestampType | TimestampNTZType =>
            val mins = bounded.map(_.genericGetMin.asInstanceOf[Number].longValue())
            val maxs = bounded.map(_.genericGetMax.asInstanceOf[Number].longValue())
            minV.put(f.name, microsIso(mins.min)); maxV.put(f.name, microsIso(maxs.max))
          case d: DecimalType =>
            // physical INT32/INT64 or FIXED/BINARY big-endian unscaled —
            // decode exactly, emit as a plain JSON number per the protocol
            def dec(v: Any): java.math.BigDecimal = v match {
              case n: Number => java.math.BigDecimal.valueOf(n.longValue(), d.scale)
              case b: org.apache.parquet.io.api.Binary =>
                new java.math.BigDecimal(new java.math.BigInteger(b.getBytes), d.scale)
              case other => throw new IllegalStateException(
                s"unexpected decimal stat class ${other.getClass}")
            }
            val mins = bounded.map(s => dec(s.genericGetMin))
            val maxs = bounded.map(s => dec(s.genericGetMax))
            minV.put(f.name, mins.min); maxV.put(f.name, maxs.max)
          case _ => () // nested/binary: no stats → no pruning, never wrong
        }
      }
      mapper.writeValueAsString(root)
    } finally reader.close()
  }

  private def microsIso(us: Long): String =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).toString
}
