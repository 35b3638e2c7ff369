package graft.sources

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** What a Delta table is at a version: the one replay of `_delta_log`
  * (delta.io PROTOCOL.md) that the native reader, every writer, RESTORE,
  * CLONE, CHECKPOINT and the converters share.
  *
  * A snapshot is the latest checkpoint (classic single-file, multi-part,
  * V2 UUID-named parquet or JSON manifest plus its `_sidecars/` parquet
  * files) and the JSON commits after it, reconciled on
  * `(path, deletion-vector id)` as the protocol keys file actions: a DV
  * update commits `remove(p, oldDv)` and `add(p, newDv)` in either order,
  * so a path-only key would let the remove kill the fresh add. A
  * checkpoint's `remove` rows are expired tombstones kept for VACUUM, not
  * live deletes.
  *
  * Cost: one listing of `_delta_log`, one read of `_last_checkpoint` when
  * present, one Spark job per checkpoint frame (the manifest or classic
  * file set, then the sidecars) collecting every action column at once,
  * and one read per later commit file. A log without a checkpoint runs no
  * Spark job.
  */
object DeltaLog {
  import DeltaNative.DeltaReadException

  private val mapper = new ObjectMapper()
  private val CommitFile = """(\d{20})\.json""".r

  /** Column mapping (PROTOCOL.md "Column Mapping"): the field-metadata key
    * naming the column's name inside data files. */
  val PhysNameKey = "delta.columnMapping.physicalName"

  /** The name a field carries in data files, partitionValues keys and
    * stats: its column-mapping physical name, else its logical name. */
  def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  /** One live data file as its add action declares it. `size` and
    * `modificationTime` are trusted for split planning (the protocol
    * requires them accurate); `stats` is the writer's per-file statistics
    * JSON; `addVersion` is the commit that added it (the checkpoint
    * version for files folded into one); the row-tracking fields give
    * default row ids (baseRowId + row position) and commit versions. */
  final case class FileEntry(partitionValues: Map[String, String], size: Long,
      modificationTime: Long, stats: Option[String],
      dv: Option[DeletionVectors.Descriptor], addVersion: Long,
      baseRowId: Option[Long], defaultRowCommitVersion: Option[Long])

  /** The table's protocol action. Writers that NEED a feature (deletion
    * vectors, column mapping) check support and emit the spec's upgrade
    * when absent: an external protocol-compliant reader ignores features
    * the protocol does not declare. */
  final case class Protocol(minReader: Int, minWriter: Int,
      readerFeatures: Set[String], writerFeatures: Set[String]) {
    def supportsDv: Boolean =
      minReader >= 3 && minWriter >= 7 &&
        readerFeatures.contains("deletionVectors") &&
        writerFeatures.contains("deletionVectors")
    /** PROTOCOL.md: upgrading a legacy protocol to table features must
      * carry over every feature the legacy versions implied, or a writer
      * honoring only the feature list would stop enforcing them. */
    def withDeletionVectors: Protocol = {
      val legacyWriter = Seq(2 -> "appendOnly", 2 -> "invariants",
        3 -> "checkConstraints", 4 -> "changeDataFeed", 4 -> "generatedColumns",
        5 -> "columnMapping", 6 -> "identityColumns")
        .collect { case (v, f) if minWriter >= v && minWriter < 7 => f }
      val legacyReader =
        if (minReader >= 2 && minReader < 3) Set("columnMapping") else Set.empty[String]
      Protocol(3, 7,
        readerFeatures ++ legacyReader + "deletionVectors",
        writerFeatures ++ legacyWriter + "deletionVectors")
    }
    def supportsColumnMapping: Boolean =
      (minReader >= 2 && minWriter >= 5 && minWriter < 7) ||
        (minWriter >= 7 && writerFeatures.contains("columnMapping") &&
          (minReader < 3 || readerFeatures.contains("columnMapping")))
    def withColumnMapping: Protocol =
      if (minReader >= 3 || minWriter >= 7) {
        // table-features protocol: the feature must be declared explicitly
        val nr = math.max(minReader, 2)
        Protocol(nr, minWriter,
          if (nr >= 3) readerFeatures + "columnMapping" else readerFeatures,
          if (minWriter >= 7) writerFeatures + "columnMapping" else writerFeatures)
      } else Protocol(math.max(minReader, 2), math.max(minWriter, 5),
        readerFeatures, writerFeatures)
    def json: String = {
      val rf = if (minReader >= 3)
        s""","readerFeatures":[${readerFeatures.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
      else ""
      val wf = if (minWriter >= 7)
        s""","writerFeatures":[${writerFeatures.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}]"""
      else ""
      s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter$rf$wf}}"""
    }
  }

  /** A resolved table version.
    *   - `exists`: the log holds a checkpoint or a commit (a missing or
    *     empty `_delta_log` gives version -1 and nothing else);
    *   - `logExists`: the `_delta_log` directory exists;
    *   - `live`: path (as the log names it) → entry, in log order;
    *   - `txnVersions`: the highest `txn.version` per appId;
    *   - `domains`: live domainMetadata, domain → configuration string
    *     (latest action per domain wins, `removed` drops it);
    *   - `lastIct`: the highest inCommitTimestamp among the replayed
    *     commits, the floor for the next commit on an ICT table;
    *   - `checkpointVersion`: the checkpoint the replay started from;
    *   - `commits`: every commit file in the log, version-ordered. */
  final case class Snapshot(version: Long, exists: Boolean, logExists: Boolean,
      schemaJson: Option[String], partCols: Seq[String], conf: Map[String, String],
      tableId: Option[String], protocol: Option[Protocol],
      live: VectorMap[String, FileEntry], txnVersions: Map[String, Long],
      domains: Map[String, String], lastIct: Option[Long],
      checkpointVersion: Option[Long], commits: Seq[(Long, FileStatus)]) {
    def columnMappingMode: String = conf.getOrElse("delta.columnMapping.mode", "none")
  }

  /** The log's commit files, version-ordered. */
  def commits(fs: FileSystem, logDir: Path): Seq[(Long, FileStatus)] =
    commitsIn(fs.listStatus(logDir).toSeq)

  private def commitsIn(listing: Seq[FileStatus]): Seq[(Long, FileStatus)] =
    listing.flatMap(st => st.getPath.getName match {
      case CommitFile(v) => Some((v.toLong, st))
      case _ => None
    }).sortBy(_._1)

  /** One newline-delimited action file (a commit or a V2 JSON manifest):
    * one JSON node per non-empty line. */
  def readActions(fs: FileSystem, file: Path): Seq[JsonNode] = {
    val in = fs.open(file)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
    lines.filter(_.nonEmpty).map(mapper.readTree)
  }

  /** A commit's time in the time-travel order: inCommitTimestamp, else
    * commitInfo.timestamp, else the file's modification time. */
  def commitTimestamp(actions: Seq[JsonNode], status: FileStatus): Long =
    actions.collectFirst { case n if n.has("commitInfo") => n.path("commitInfo") }
      .map { ci =>
        if (ci.has("inCommitTimestamp")) ci.path("inCommitTimestamp").asLong()
        else if (ci.has("timestamp")) ci.path("timestamp").asLong()
        else status.getModificationTime
      }
      .getOrElse(status.getModificationTime)

  /** Every action column a checkpoint frame can carry, read with one
    * fixed schema: a field the files lack reads as null, so no schema
    * inference job runs and multi-part sets need no schema merge. */
  private val FrameSchema: StructType = {
    val strMap = MapType(StringType, StringType, valueContainsNull = true)
    def struct(fs: (String, DataType)*) = StructType(fs.map { case (n, t) => StructField(n, t) })
    struct(
      "protocol" -> struct("minReaderVersion" -> IntegerType,
        "minWriterVersion" -> IntegerType,
        "readerFeatures" -> ArrayType(StringType),
        "writerFeatures" -> ArrayType(StringType)),
      "metaData" -> struct("id" -> StringType, "schemaString" -> StringType,
        "partitionColumns" -> ArrayType(StringType), "configuration" -> strMap),
      "txn" -> struct("appId" -> StringType, "version" -> LongType),
      "add" -> struct("path" -> StringType, "partitionValues" -> strMap,
        "size" -> LongType, "modificationTime" -> LongType, "stats" -> StringType,
        "deletionVector" -> struct("storageType" -> StringType,
          "pathOrInlineDv" -> StringType, "offset" -> IntegerType,
          "sizeInBytes" -> IntegerType, "cardinality" -> LongType),
        "baseRowId" -> LongType, "defaultRowCommitVersion" -> LongType),
      "domainMetadata" -> struct("domain" -> StringType,
        "configuration" -> StringType, "removed" -> BooleanType),
      "sidecar" -> struct("path" -> StringType))
  }

  /** Resolve the table at `root` at its latest version, or at `stopAt`.
    * A checkpoint newer than `stopAt` is skipped (it folded later
    * commits), so the replay then needs every commit from 0: a version
    * that does not exist, or whose commits are gone, rejects loudly. */
  def snapshot(spark: SparkSession, root: String, stopAt: Option[Long] = None): Snapshot = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val logDir = new Path(rootPath, "_delta_log")
    val listing = try fs.listStatus(logDir).toSeq catch {
      case _: java.io.FileNotFoundException =>
        return Snapshot(-1L, exists = false, logExists = false, None, Nil, Map.empty,
          None, None, VectorMap.empty, Map.empty, Map.empty, None, None, Nil)
    }
    val names = listing.map(_.getPath.getName).toSet
    val allCommits = commitsIn(listing)
    val latestCp: Option[(Long, Option[Int])] =
      if (!names.contains("_last_checkpoint")) None
      else {
        val in = fs.open(new Path(logDir, "_last_checkpoint"))
        val node = try mapper.readTree(in) finally in.close()
        Some((node.path("version").asLong(),
          Option(node.path("parts")).filter(!_.isMissingNode).map(_.asInt())))
      }
    val cp = latestCp.filter { case (v, _) => stopAt.forall(v <= _) }
    val commits = allCommits.filter { case (v, _) =>
      cp.forall(_._1 < v) && stopAt.forall(v <= _)
    }
    stopAt.foreach { pin =>
      val maxAvail = (cp.map(_._1).toSeq ++ allCommits.map(_._1)).maxOption
      if (pin < 0 || maxAvail.forall(_ < pin)) throw DeltaReadException(
        s"`$root`: version $pin does not exist" +
          maxAvail.map(m => s" (latest available: $m)").getOrElse(""))
      // contiguity: the replay must cover [base, pin] with no vacuumed gap
      val have = commits.map(_._1).toSet
      (cp.map(_._1 + 1).getOrElse(0L) to pin).find(!have.contains(_)).foreach { missing =>
        throw DeltaReadException(
          s"`$root`: version $pin needs commit $missing, which is not in " +
            "_delta_log (vacuumed?) — this version is no longer reconstructible")
      }
    }

    val replay = new Replay(root)
    cp.foreach { case (cpV, parts) =>
      val files: Seq[String] = parts match {
        case Some(n) =>
          (1 to n).map(i => f"$cpV%020d.checkpoint.$i%010d.$n%010d.parquet")
        case None =>
          val classic = f"$cpV%020d.checkpoint.parquet"
          if (names.contains(classic)) Seq(classic)
          else {
            // V2 checkpoints are UUID-named (`v.checkpoint.<unique>.parquet`
            // or `.json`) and found by listing; each manifest is complete
            // on its own, so one is picked deterministically
            val prefix = f"$cpV%020d.checkpoint."
            val cands = names.filter(n => n.startsWith(prefix) &&
              (n.endsWith(".parquet") || n.endsWith(".json")))
            if (cands.isEmpty) throw DeltaReadException(
              s"`$root`: _last_checkpoint names version $cpV but no matching " +
                "checkpoint file exists in _delta_log")
            Seq(cands.max)
          }
      }
      files.find(!names.contains(_)).foreach { missing =>
        throw DeltaReadException(
          s"`$root`: _last_checkpoint names version $cpV but $missing does not exist")
      }
      val sidecars: Seq[String] =
        if (files.length == 1 && files.head.endsWith(".json"))
          readActions(fs, new Path(logDir, files.head))
            .flatMap(replay.applyJson(_, cpV, inCommit = false))
        else replay.applyFrame(spark, files.map(n => new Path(logDir, n).toString), cpV)
      if (sidecars.nonEmpty) {
        // sidecar paths resolve against _delta_log/_sidecars/ unless
        // absolute (PROTOCOL.md "V2 Checkpoint Table Feature")
        val resolved = sidecars.map { p =>
          val raw = new Path(java.net.URLDecoder.decode(p, "UTF-8"))
          (if (raw.isAbsolute) raw else new Path(new Path(logDir, "_sidecars"), raw)).toString
        }
        if (replay.applyFrame(spark, resolved, cpV).nonEmpty) throw DeltaReadException(
          s"`$root`: V2 checkpoint sidecar files must not reference further " +
            "sidecars — malformed checkpoint")
      }
    }
    commits.foreach { case (v, st) =>
      readActions(fs, st.getPath).foreach(replay.applyJson(_, v, inCommit = true))
    }
    val version = stopAt.getOrElse(
      (cp.map(_._1).toSeq ++ allCommits.map(_._1)).maxOption.getOrElse(-1L))
    replay.result(version, exists = latestCp.isDefined || allCommits.nonEmpty,
      cp.map(_._1), allCommits)
  }

  /** The replay's running state: checkpoint rows and JSON actions applied
    * in log order. */
  private final class Replay(root: String) {
    private var schemaJson: Option[String] = None
    private var partCols: Seq[String] = Nil
    private var conf = Map.empty[String, String]
    private var tableId: Option[String] = None
    private var protocol: Option[Protocol] = None
    private val adds = scala.collection.mutable.LinkedHashMap[(String, String), FileEntry]()
    private val txns = scala.collection.mutable.Map[String, Long]()
    private val domains = scala.collection.mutable.LinkedHashMap[String, String]()
    private var lastIct: Option[Long] = None

    private def dvKey(dv: Option[DeletionVectors.Descriptor]): String =
      dv.map(_.uniqueKey).getOrElse("")
    private def txn(app: String, v: Long): Unit =
      txns(app) = math.max(v, txns.getOrElse(app, Long.MinValue))
    private def domain(d: String, config: String, removed: Boolean): Unit =
      if (removed) domains.remove(d) else domains(d) = config

    /** One JSON action (a commit line, or a V2 JSON-manifest line when
      * `inCommit` is false: its removes are expired tombstones). Returns
      * the path of a `sidecar` action. */
    def applyJson(n: JsonNode, version: Long, inCommit: Boolean): Option[String] = {
      def longOpt(a: JsonNode, k: String): Option[Long] =
        Option(a.path(k)).filter(_.isNumber).map(_.asLong())
      def dvOf(a: JsonNode): Option[DeletionVectors.Descriptor] = {
        val d = a.path("deletionVector")
        if (d.isMissingNode || d.isNull) None
        else Some(DeletionVectors.Descriptor(d.path("storageType").asText(),
          d.path("pathOrInlineDv").asText(),
          Option(d.path("offset")).filter(o => !o.isMissingNode && !o.isNull).map(_.asInt()),
          d.path("sizeInBytes").asInt(), d.path("cardinality").asLong()))
      }
      if (n.has("txn")) txn(n.path("txn").path("appId").asText(),
        n.path("txn").path("version").asLong())
      if (n.has("protocol")) {
        val p = n.path("protocol")
        def feats(k: String): Set[String] = {
          val f = p.path(k)
          if (f.isMissingNode || f.isNull) Set.empty
          else f.elements().asScala.map(_.asText()).toSet
        }
        protocol = Some(Protocol(p.path("minReaderVersion").asInt(1),
          p.path("minWriterVersion").asInt(2), feats("readerFeatures"), feats("writerFeatures")))
      }
      if (n.has("metaData")) {
        val m = n.path("metaData")
        schemaJson = Some(m.path("schemaString").asText())
        partCols = m.path("partitionColumns").elements().asScala.map(_.asText()).toSeq
        conf = m.path("configuration").fields().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
        tableId = Option(m.path("id")).filter(_.isTextual).map(_.asText())
          .filter(_.nonEmpty).orElse(tableId)
      }
      if (n.has("add")) {
        val a = n.path("add")
        val dv = dvOf(a)
        adds((a.path("path").asText(), dvKey(dv))) = FileEntry(
          a.path("partitionValues").fields().asScala
            .map(e => e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())).toMap,
          a.path("size").asLong(0L), a.path("modificationTime").asLong(0L),
          Option(a.path("stats")).filter(s => s.isTextual && s.asText().nonEmpty).map(_.asText()),
          dv, version, longOpt(a, "baseRowId"), longOpt(a, "defaultRowCommitVersion"))
      }
      if (n.has("domainMetadata")) {
        val d = n.path("domainMetadata")
        domain(d.path("domain").asText(), d.path("configuration").asText(""),
          d.path("removed").asBoolean(false))
      }
      if (inCommit && n.has("remove")) {
        val rm = n.path("remove")
        adds.remove((rm.path("path").asText(), dvKey(dvOf(rm))))
      }
      if (inCommit && n.path("commitInfo").has("inCommitTimestamp"))
        lastIct = Some(math.max(n.path("commitInfo").path("inCommitTimestamp").asLong(),
          lastIct.getOrElse(Long.MinValue)))
      if (n.has("sidecar")) Some(n.path("sidecar").path("path").asText()) else None
    }

    /** One checkpoint-shaped parquet frame (classic file, multi-part set,
      * V2 manifest or its sidecars), collected in one job. Returns the
      * paths of its `sidecar` actions. */
    def applyFrame(spark: SparkSession, files: Seq[String], version: Long): Seq[String] = {
      val actions = FrameSchema.fieldNames.map(col)
      val rows = spark.read.schema(FrameSchema).parquet(files: _*)
        .filter(actions.map(_.isNotNull).reduce(_ || _)).collect()
      def str(r: Row, i: Int): Option[String] = if (r.isNullAt(i)) None else Some(r.getString(i))
      def lng(r: Row, i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      def int(r: Row, i: Int): Option[Int] = if (r.isNullAt(i)) None else Some(r.getInt(i))
      def strs(r: Row, i: Int): Seq[String] = if (r.isNullAt(i)) Nil else r.getSeq[String](i)
      def strMap(r: Row, i: Int): Map[String, String] =
        if (r.isNullAt(i)) Map.empty else r.getMap[String, String](i).toMap
      rows.toSeq.flatMap { r =>
        if (!r.isNullAt(0)) {
          val p = r.getStruct(0)
          protocol = Some(Protocol(int(p, 0).getOrElse(1), int(p, 1).getOrElse(2),
            strs(p, 2).toSet, strs(p, 3).toSet))
        }
        if (!r.isNullAt(1)) {
          val m = r.getStruct(1)
          tableId = str(m, 0).filter(_.nonEmpty).orElse(tableId)
          schemaJson = str(m, 1)
          partCols = strs(m, 2)
          conf = strMap(m, 3)
        }
        if (!r.isNullAt(2)) txn(r.getStruct(2).getString(0), r.getStruct(2).getLong(1))
        if (!r.isNullAt(3)) {
          val a = r.getStruct(3)
          val dv = Option(a.getStruct(5)).map(d => DeletionVectors.Descriptor(
            str(d, 0).getOrElse(""), str(d, 1).getOrElse(""), int(d, 2),
            int(d, 3).getOrElse(0), lng(d, 4).getOrElse(0L)))
          adds((a.getString(0), dvKey(dv))) = FileEntry(strMap(a, 1),
            lng(a, 2).getOrElse(0L), lng(a, 3).getOrElse(0L), str(a, 4).filter(_.nonEmpty),
            dv, version, lng(a, 6), lng(a, 7))
        }
        if (!r.isNullAt(4)) {
          val d = r.getStruct(4)
          domain(d.getString(0), str(d, 1).getOrElse(""), !d.isNullAt(2) && d.getBoolean(2))
        }
        if (r.isNullAt(5)) None else str(r.getStruct(5), 0)
      }
    }

    def result(version: Long, exists: Boolean, checkpointVersion: Option[Long],
        commits: Seq[(Long, FileStatus)]): Snapshot = {
      val live = VectorMap.from(adds.iterator.map { case ((p, _), e) => p -> e })
      if (live.size < adds.size) {
        val dupPaths = adds.keys.toSeq.groupBy(_._1).filter(_._2.size > 1).keys.toSeq.sorted
        throw DeltaReadException(
          s"`$root`: log reconciliation left ${dupPaths.size} file path(s) live more " +
            s"than once (first: ${dupPaths.head}) — a remove action is missing its " +
            "deletionVector id; refusing to double-read")
      }
      Snapshot(version, exists, logExists = true, schemaJson, partCols, conf, tableId,
        protocol, live, txns.toMap, domains.toMap, lastIct, checkpointVersion, commits)
    }
  }
}
