package graft.sources

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** What an Iceberg table is at its current version: the one resolution of
  * `metadata/` (iceberg.apache.org/spec) that the native reader, the change
  * feed, every `IcebergSink` statement and the converters share, the one
  * manifest walk, and the one metadata writer.
  *
  * Resolution: `version-hint.text` names the version when it is readable,
  * numeric and its file (`vN.metadata.json` or unpadded `N.metadata.json`)
  * exists. The hint is ADVISORY (iceberg's HadoopTableOperations
  * semantics): a concurrent rewrite can expose an empty or truncated hint
  * to a poller, so anything else falls back to the NUMERICALLY highest
  * `*.metadata.json` in a listing (lexicographic max would pick v9 over
  * v10). Cost: exists(metadata dir), exists(hint), open(hint),
  * exists(vN), open(vN); a listing only on the fallback.
  */
object IcebergLog {
  import IcebergNative.IcebergReadException

  private val mapper = new ObjectMapper()
  private val MetaFile = """v?(\d+)\.metadata\.json""".r
  /** The advisory current-version pointer under `metadata/`. */
  val HintName = "version-hint.text"

  /** One manifest of a snapshot: the path as the metadata records it, the
    * resolved file, its sequence number (the list row's; 0 for v1 lists
    * and inline manifests, per the spec) and its content (0 data, 1
    * deletes). */
  final case class Manifest(path: String, file: Path, seq: Long, content: Int)

  /** One manifest entry. `seq` follows the spec's inheritance: the entry's
    * own sequence number, else its manifest's. `path` is the data file's
    * resolved path; `file` the raw `data_file` record. */
  final case class Entry(raw: GenericRecord, file: GenericRecord, status: Int,
      content: Int, seq: Long, recordCount: Long, path: String) {
    def live: Boolean = status != 2 // 2 = DELETED: the file left the snapshot
    def format: String = file.get("file_format").toString
    def partition: Option[GenericRecord] =
      field(file, "partition").collect { case r: GenericRecord => r }
    /** The r102 partition tuple by field name, in spec order (empty when
      * the entry carries no partition record). */
    lazy val tuple: Map[String, AnyRef] = partition.fold(Map.empty[String, AnyRef]) { pr =>
      VectorMap.from(pr.getSchema.getFields.asScala.map(f => f.name() -> (pr.get(f.pos()) match {
        case u: org.apache.avro.util.Utf8 => u.toString
        case other => other
      })))
    }
  }

  /** Optional-field access: GenericRecord.get THROWS on a field the writer
    * schema never had (older manifests predate sequence numbers etc.). */
  def field(r: GenericRecord, name: String): Option[AnyRef] =
    Option(r.getSchema.getField(name)).flatMap(_ => Option(r.get(name)))

  /** A metadata node's current schema: `current-schema-id` in `schemas`,
    * or the v1 single `schema`. */
  def currentSchema(meta: JsonNode): JsonNode =
    if (!meta.has("schemas")) meta.path("schema")
    else {
      val id = meta.path("current-schema-id").asInt(0)
      schemaById(meta, id).getOrElse(throw IcebergReadException(
        s"schema-id $id not found in schemas (current-schema-id)"))
    }

  def schemaById(meta: JsonNode, id: Int): Option[JsonNode] =
    meta.path("schemas").elements().asScala.find(_.path("schema-id").asInt(-1) == id)

  /** A resolved table version; `version` 0 and a missing `meta` when no
    * metadata file exists under `root`. */
  final case class Snapshot(root: Path, fs: FileSystem, conf: Configuration,
      metaDirExists: Boolean, version: Long, meta: JsonNode) {
    def exists: Boolean = version > 0
    def metaDir: Path = new Path(root, "metadata")
    def currentSchema: JsonNode = IcebergLog.currentSchema(meta)
    /** Every partition spec: `partition-specs`, or the v1 `partition-spec`. */
    def specs: Seq[JsonNode] =
      if (meta.has("partition-specs")) meta.path("partition-specs").elements().asScala.toSeq
      else Seq(meta.path("partition-spec")).filter(!_.isMissingNode)
    def refs: JsonNode = meta.path("refs")
    def snapshots: Seq[JsonNode] = meta.path("snapshots").elements().asScala.toSeq
    /** (timestamp-ms, snapshot-id), oldest first. */
    def snapshotLog: Seq[(Long, Long)] = meta.path("snapshot-log").elements().asScala
      .map(e => (e.path("timestamp-ms").asLong(), e.path("snapshot-id").asLong())).toSeq
    def currentSnapshotId: Long = meta.path("current-snapshot-id").asLong(-1L)
    def snapshotById(id: Long): Option[JsonNode] =
      snapshots.find(_.path("snapshot-id").asLong() == id)
    def currentSnapshot: JsonNode = snapshotById(currentSnapshotId).getOrElse(
      throw IcebergReadException(s"`$root`: current snapshot $currentSnapshotId not listed"))
    def lastSnapshotId: Long =
      snapshots.map(_.path("snapshot-id").asLong()).maxOption.getOrElse(0L)
    def lastSeq: Long =
      snapshots.map(_.path("sequence-number").asLong(0L)).maxOption.getOrElse(0L)
    /** The highest `graft-batch-version` committed by `appId` (the stream
      * sinks' exactly-once ledger in the snapshot summaries). */
    def committedBatch(appId: String): Long = snapshots.map(_.path("summary"))
      .filter(_.path("graft-app-id").asText("") == appId)
      .map(_.path("graft-batch-version").asText("-1").toLong)
      .maxOption.getOrElse(Long.MinValue)

    def resolve(p: String): Path = {
      val raw = new Path(p)
      if (raw.isAbsolute || p.contains(":/")) raw else new Path(root, raw)
    }

    /** A snapshot's manifests: its `manifest-list`, or v1 inline
      * `manifests`. */
    def manifestsOf(snap: JsonNode): Seq[Manifest] =
      if (snap.has("manifest-list"))
        avroRows(resolve(snap.path("manifest-list").asText())).map { r =>
          val p = r.get("manifest_path").toString
          Manifest(p, resolve(p),
            field(r, "sequence_number").map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
            field(r, "content").map(_.asInstanceOf[Number].intValue()).getOrElse(0))
        }
      else if (snap.has("manifests"))
        snap.path("manifests").elements().asScala.map { m =>
          Manifest(m.asText(), resolve(m.asText()), 0L, 0)
        }.toSeq
      else throw IcebergReadException("snapshot carries neither manifest-list nor manifests")

    /** Every entry of one manifest, DELETED ones included. */
    def entries(m: Manifest): Seq[Entry] = avroRows(m.file).map { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      Entry(e, d, e.get("status").asInstanceOf[Number].intValue(),
        field(d, "content").map(_.asInstanceOf[Number].intValue()).getOrElse(0),
        field(e, "sequence_number").map(_.asInstanceOf[Number].longValue()).getOrElse(m.seq),
        field(d, "record_count").map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
        resolve(d.get("file_path").toString).toString)
    }

    private def avroRows(p: Path): Seq[GenericRecord] = {
      val rdr = DataFileReader.openReader(new FsInput(p, conf), new GenericDatumReader[GenericRecord]())
      try rdr.iterator().asScala.toList finally rdr.close()
    }

    /** This snapshot, or the loud reason there is no table at `root`. */
    def requireExists: Snapshot = {
      if (!metaDirExists) throw IcebergReadException(
        s"`$root` is not an Iceberg table: no metadata directory")
      if (!exists) throw IcebergReadException(s"`$root`: no *.metadata.json in metadata/")
      this
    }
  }

  /** Resolve the table at `root` (see the object doc); a missing table
    * gives a snapshot with `exists` false. */
  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new Path(root)
    load(rootPath.getFileSystem(conf), conf, rootPath)
  }

  /** The table at `root`, which must exist. */
  def current(spark: SparkSession, root: String): Snapshot = snapshot(spark, root).requireExists

  private def load(fs: FileSystem, conf: Configuration, root: Path): Snapshot = {
    val metaDir = new Path(root, "metadata")
    if (!fs.exists(metaDir)) return Snapshot(root, fs, conf, false, 0L, MissingNode.getInstance())
    val hint = new Path(metaDir, HintName)
    def fromListing: Option[(Long, Path)] =
      fs.listStatus(metaDir).toSeq.flatMap { st =>
        st.getPath.getName match {
          case MetaFile(v) => Some((v.toLong, st.getPath))
          case _ => None
        }
      }.maxByOption(_._1)
    val hinted: Option[(Long, Path)] =
      if (!fs.exists(hint)) None
      else {
        val in = fs.open(hint)
        val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
        if (v.isEmpty || !v.forall(_.isDigit)) None
        else Seq(s"v$v.metadata.json", s"$v.metadata.json")
          .map(new Path(metaDir, _)).find(fs.exists).map((v.toLong, _))
      }
    hinted.orElse(fromListing) match {
      case None => Snapshot(root, fs, conf, true, 0L, MissingNode.getInstance())
      case Some((v, file)) =>
        val in = fs.open(file)
        val meta = try mapper.readTree(in) finally in.close()
        Snapshot(root, fs, conf, true, v, meta)
    }
  }

  /** Publish `metaJson` as version `base.version + 1` through
    * [[CommitStore.publish]] and point the hint at it. A version that
    * already exists means a concurrent commit won: the caller's work is not
    * published. Returns the new version. */
  def commit(base: Snapshot, metaJson: String): Long = {
    val v = base.version + 1
    CommitStore.publish(base.fs, new Path(base.metaDir, s"v$v.metadata.json"),
      metaJson.getBytes("UTF-8"))(IcebergReadException(
      s"`${base.root}`: metadata version $v already exists — another writer got " +
        "there first; this native writer does not do commit retries"))
    val hintOut = base.fs.create(new Path(base.metaDir, HintName), true)
    try hintOut.write(v.toString.getBytes("UTF-8")) finally hintOut.close()
    v
  }

  /** [[commit]] of a metadata node, written on one line as `"key": value`
    * pairs separated by `, `: the layout the table-creating write has
    * always produced, kept for every version. */
  def commit(base: Snapshot, meta: JsonNode): Long = commit(base, metaWriter.writeValueAsString(meta))

  private val metaWriter = mapper.writer(new MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit = g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(", ")
  })
}
