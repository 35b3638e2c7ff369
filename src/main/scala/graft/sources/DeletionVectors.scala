package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Delta Lake DELETION VECTORS, built from the public protocol
  * (delta.io PROTOCOL.md, "Deletion Vectors" + "Deletion Vector Format";
  * the reference reaches the same capability through DuckDB's delta
  * extension, src/duckdb/delta.rs:41-61).
  *
  * A deletion vector marks dead row positions of ONE parquet data file as a
  * 64-bit roaring bitmap ("RoaringBitmapArray"). The descriptor on the `add`
  * action says where the serialized bitmap lives:
  *   - storageType "i": inline — `pathOrInlineDv` IS the bitmap, Z85-encoded
  *   - storageType "u": a `deletion_vector_<uuid>.bin` file under the table
  *     root (optional random prefix dir), `pathOrInlineDv` = prefix + Z85
  *     of the 16 uuid bytes, `offset` = where this DV starts in the file
  *   - storageType "p": an absolute file path
  * On-disk layout: 1-byte format version (1) at the file head; at each DV's
  * offset a big-endian int size (== descriptor sizeInBytes), the bitmap
  * bytes, then a big-endian CRC-32 of those bytes.
  *
  * Spark-first split of labor: descriptors are log metadata (driver),
  * but bitmap DECODE is data work — a 100 TB table can carry billions of
  * deleted positions — so decode runs in EXECUTORS over a dataset of
  * descriptors, and dead rows are removed with the same
  * `(_metadata.file_path, _metadata.row_index)` anti-join shape the Iceberg
  * positional-delete path uses (IcebergNative.read). The delete side is
  * broadcast when the descriptor-declared cardinality is small, shuffled
  * otherwise — both shapes survive scale.
  */
object DeletionVectors {

  import DeltaNative.DeltaReadException

  // ------------------------------------------------------------------ Z85
  /** ZeroMQ Base85 over 4-byte blocks (the alphabet PROTOCOL.md specifies).
    * Inputs that are not a multiple of 4 are zero-padded for encoding; the
    * decoder truncates back to the caller-declared byte length, exactly the
    * scheme the protocol prescribes for inline DVs. */
  object Z85 {
    private val alphabet =
      "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
    private val lookup: Array[Int] = {
      val a = Array.fill(128)(-1)
      alphabet.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
      a
    }

    def encode(bytes: Array[Byte]): String = {
      val padded =
        if (bytes.length % 4 == 0) bytes
        else bytes ++ new Array[Byte](4 - bytes.length % 4)
      val sb = new StringBuilder(padded.length / 4 * 5)
      var i = 0
      while (i < padded.length) {
        var v = 0L
        var j = 0
        while (j < 4) { v = (v << 8) | (padded(i + j) & 0xffL); j += 1 }
        var div = 85L * 85 * 85 * 85
        while (div > 0) { sb.append(alphabet(((v / div) % 85).toInt)); div /= 85 }
        i += 4
      }
      sb.toString
    }

    /** Decode to exactly `outLen` bytes (padding stripped). */
    def decode(s: String, outLen: Int): Array[Byte] = {
      if (s.length % 5 != 0)
        throw DeltaReadException(s"Z85 payload length ${s.length} is not a multiple of 5")
      val full = new Array[Byte](s.length / 5 * 4)
      if (outLen > full.length)
        throw DeltaReadException(s"Z85 payload decodes to ${full.length} bytes, need $outLen")
      var i = 0
      while (i < s.length) {
        var v = 0L
        var j = 0
        while (j < 5) {
          val c = s.charAt(i + j)
          val d = if (c < 128) lookup(c.toInt) else -1
          if (d < 0) throw DeltaReadException(s"invalid Z85 character `$c` in deletion vector")
          v = v * 85 + d
          j += 1
        }
        var k = 3
        while (k >= 0) { full(i / 5 * 4 + k) = (v & 0xff).toByte; v >>= 8; k -= 1 }
        i += 5
      }
      if (outLen == full.length) full else full.take(outLen)
    }
  }

  // ------------------------------------------- 64-bit roaring bitmap array
  /** PROTOCOL.md "Deletion Vector Format": magic 1681511377 (int LE), count
    * of 32-bit bitmaps (long LE), then per bitmap its high-32 key (int LE)
    * followed by the STANDARD 32-bit RoaringBitmap portable serialization
    * (RoaringFormatSpec): cookie 12346 (no runs, container count in the
    * next int) or 12347 (low 16 bits; container count-1 in the high 16,
    * then a run-flag bitset), a descriptive header of (key16, cardinality-1)
    * shorts, an offset header when present, then array (shorts) / bitmap
    * (1024 longs) / run (count + start,len-1 pairs) containers. */
  object RoaringBitmapArray {
    val Magic = 1681511377

    /** Decode serialized bytes → sorted deleted row indices. */
    def deserialize(bytes: Array[Byte]): Array[Long] = {
      val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      if (buf.remaining() < 12 || buf.getInt() != Magic)
        throw DeltaReadException("deletion vector bitmap does not start with the roaring magic number")
      val nBitmaps = buf.getLong()
      if (nBitmaps < 0 || nBitmaps > Int.MaxValue)
        throw DeltaReadException(s"deletion vector declares $nBitmaps bitmaps — malformed")
      val out = Array.newBuilder[Long]
      var b = 0L
      while (b < nBitmaps) {
        val high = (buf.getInt().toLong & 0xffffffffL) << 32
        readBitmap32(buf, v32 => out += (high | (v32.toLong & 0xffffffffL)))
        b += 1
      }
      out.result()
    }

    private def readBitmap32(buf: ByteBuffer, emit: Int => Unit): Unit = {
      val cookie = buf.getInt()
      val hasRuns = (cookie & 0xffff) == 12347
      val n =
        if (hasRuns) (cookie >>> 16) + 1
        else if (cookie == 12346) buf.getInt()
        else throw DeltaReadException(s"unknown roaring bitmap cookie $cookie in deletion vector")
      val runFlags =
        if (hasRuns) { val f = new Array[Byte]((n + 7) / 8); buf.get(f); f } else null
      val keys = new Array[Int](n)
      val cards = new Array[Int](n)
      var i = 0
      while (i < n) {
        keys(i) = buf.getShort() & 0xffff
        cards(i) = (buf.getShort() & 0xffff) + 1
        i += 1
      }
      // offset header: always for the no-run cookie; with runs only when
      // the container count reaches the spec's threshold of 4
      if (!hasRuns || n >= 4) buf.position(buf.position() + 4 * n)
      i = 0
      while (i < n) {
        val base = keys(i) << 16
        val isRun = hasRuns && ((runFlags(i / 8) >> (i % 8)) & 1) == 1
        if (isRun) {
          val nRuns = buf.getShort() & 0xffff
          var r = 0
          while (r < nRuns) {
            val start = buf.getShort() & 0xffff
            val len = buf.getShort() & 0xffff // stored as length-1
            var v = start
            while (v <= start + len) { emit(base | v); v += 1 }
            r += 1
          }
        } else if (cards(i) <= 4096) {
          var c = 0
          while (c < cards(i)) { emit(base | (buf.getShort() & 0xffff)); c += 1 }
        } else {
          var w = 0
          while (w < 1024) {
            var word = buf.getLong()
            val wordBase = base | (w << 6)
            while (word != 0) {
              emit(wordBase | java.lang.Long.numberOfTrailingZeros(word))
              word &= word - 1
            }
            w += 1
          }
        }
        i += 1
      }
    }

    /** Serialize sorted indices (fixture/test writer): no-run portable
      * format, array containers up to the spec's 4096 cardinality bound and
      * bitmap containers above it. The DESERIALIZER additionally handles
      * run containers. */
    def serialize(indices: Seq[Long]): Array[Byte] = {
      val sorted = indices.distinct.sorted
      val byHigh = sorted.groupBy(v => (v >>> 32).toInt).toSeq.sortBy(_._1)
      val out = new ByteArrayOutputStream()
      def le(n: Int, width: Int): Unit = {
        var i = 0
        while (i < width) { out.write((n >> (8 * i)) & 0xff); i += 1 }
      }
      le(Magic, 4)
      le(byHigh.size, 4); le(0, 4) // long LE count
      byHigh.foreach { case (high, vs) =>
        le(high, 4)
        val byKey = vs.map(v => (v & 0xffffffffL).toInt)
          .groupBy(v => v >>> 16).toSeq.sortBy(_._1)
        le(12346, 4)
        le(byKey.size, 4)
        byKey.foreach { case (k, cvs) => le(k, 2); le(cvs.size - 1, 2) }
        var off = 4 + 4 + 4 * byKey.size + 4 * byKey.size
        byKey.foreach { case (_, cvs) =>
          le(off, 4); off += (if (cvs.size <= 4096) 2 * cvs.size else 8192)
        }
        byKey.foreach { case (_, cvs) =>
          if (cvs.size <= 4096) cvs.sorted.foreach(v => le(v & 0xffff, 2))
          else {
            val words = new Array[Long](1024)
            cvs.foreach { v => val lo = v & 0xffff; words(lo >>> 6) |= 1L << (lo & 63) }
            words.foreach { w =>
              var i = 0; var x = w
              while (i < 8) { out.write((x & 0xff).toInt); x >>>= 8; i += 1 }
            }
          }
        }
      }
      out.toByteArray
    }
  }

  // ------------------------------------------------------------ descriptor
  /** `add.deletionVector` per PROTOCOL.md. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Int], sizeInBytes: Int, cardinality: Long) {

    /** Stable reconciliation key: the protocol keys add/remove actions by
      * (path, DV unique id); the exact string form is internal. */
    def uniqueKey: String = s"$storageType:$pathOrInlineDv@${offset.getOrElse(0)}"

    /** The `deletionVector` JSON object a commit carries. */
    def json: String = {
      val o = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance.objectNode()
      o.put("storageType", storageType)
      o.put("pathOrInlineDv", pathOrInlineDv)
      offset.foreach(o.put("offset", _))
      o.put("sizeInBytes", sizeInBytes)
      o.put("cardinality", cardinality)
      o.toString
    }

    /** On-disk DV file location ("u"/"p"); None for inline. */
    def absolutePath(tableRoot: Path): Option[Path] = storageType match {
      case "i" => None
      case "p" => Some(new Path(pathOrInlineDv))
      case "u" =>
        if (pathOrInlineDv.length < 20)
          throw DeltaReadException(s"deletion vector uuid payload `$pathOrInlineDv` is shorter than 20 chars")
        val prefix = pathOrInlineDv.dropRight(20)
        val raw = Z85.decode(pathOrInlineDv.takeRight(20), 16)
        val bb = ByteBuffer.wrap(raw)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) tableRoot else new Path(tableRoot, prefix)
        Some(new Path(dir, s"deletion_vector_$uuid.bin"))
      case other =>
        throw DeltaReadException(s"unknown deletion vector storageType `$other`")
    }
  }

  /** One executor-side decode task (absolute path resolved on the driver).
    * `container` says what file holds the bytes: "dv" = a Delta
    * `deletion_vector_*.bin` (1-byte format version at the head), "puffin"
    * = an Iceberg v3 puffin file ("PFA1" magic at the head; the
    * `deletion-vector-v1` blob layout is Delta-compatible by design —
    * 4-byte BE length, magic+bitmap, 4-byte BE CRC-32). "" = inline. */
  final case class Task(fileKey: String, storageType: String, payload: String,
      dvPath: String, offset: Long, sizeInBytes: Int, container: String)

  /** Decode one DV to its deleted row indices. Runs in executors. */
  def decodeTask(t: Task, conf: Configuration): Array[Long] = {
    val data: Array[Byte] =
      if (t.storageType == "i") Z85.decode(t.payload, t.sizeInBytes)
      else {
        val p = new Path(t.dvPath)
        val in = p.getFileSystem(conf).open(p)
        try {
          if (t.container == "puffin") {
            val head = new Array[Byte](4)
            in.readFully(head)
            if (!java.util.Arrays.equals(head, "PFA1".getBytes("UTF-8")))
              throw DeltaReadException(s"${t.dvPath} is not a puffin file (no PFA1 magic)")
          } else {
            val version = in.readByte()
            if (version != 1)
              throw DeltaReadException(s"deletion vector file ${t.dvPath} has format version $version (expected 1)")
          }
          in.seek(t.offset)
          val stored = in.readInt() // big-endian, per the on-disk layout
          if (stored != t.sizeInBytes)
            throw DeltaReadException(
              s"deletion vector at ${t.dvPath}@${t.offset}: stored size $stored != descriptor sizeInBytes ${t.sizeInBytes}")
          val bytes = new Array[Byte](stored)
          in.readFully(bytes)
          val expected = in.readInt()
          val crc = new CRC32(); crc.update(bytes)
          if (crc.getValue.toInt != expected)
            throw DeltaReadException(s"deletion vector at ${t.dvPath}@${t.offset}: CRC-32 mismatch")
          bytes
        } finally in.close()
      }
    RoaringBitmapArray.deserialize(data)
  }

  /** Distributed decode: a dataset of tasks → one (file key, row index)
    * frame of dead positions. The caller anti-joins it against its scan. */
  def deletedRows(spark: SparkSession, tasks: Seq[Task]): DataFrame = {
    val confEntries: Seq[(String, String)] =
      spark.sessionState.newHadoopConf().iterator().asScala
        .map(e => e.getKey -> e.getValue).toSeq
    val confBc = spark.sparkContext.broadcast(confEntries)
    val slices = math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(tasks)(Encoders.product[Task])
      .repartition(slices)
      .flatMap { t =>
        val c = new Configuration(false)
        confBc.value.foreach { case (k, v) => c.set(k, v) }
        decodeTask(t, c).map(i => (t.fileKey, i))
      }(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .toDF("__dv_file", "__dv_pos")
  }

  /** Remove DV-dead rows from `df` (a direct parquet scan — `_metadata` must
    * still be addressable). `dvs` maps resolved data-file paths to their
    * descriptors. */
  def applyTo(spark: SparkSession, df: DataFrame, dvs: Seq[(String, Descriptor)],
      tableRoot: Path): DataFrame = {
    if (dvs.isEmpty) return df
    val tasks = dvs.map { case (filePath, d) =>
      Task(PathKeys.key(filePath), d.storageType,
        if (d.storageType == "i") d.pathOrInlineDv else "",
        d.absolutePath(tableRoot).map(_.toString).getOrElse(""),
        d.offset.getOrElse(0).toLong, d.sizeInBytes, "dv")
    }
    val deleted = deletedRows(spark, tasks)
    // descriptor cardinality is declared in the log: a cheap, honest sizing
    // signal. ~16 bytes per decoded position; small sets broadcast, big
    // sets shuffle — never a nested loop.
    val delSide =
      if (dvs.map(_._2.cardinality).sum * 16 <= 64L * 1024 * 1024) broadcast(deleted)
      else deleted
    df.withColumn("__dv_fk", PathKeys.keyCol(col("_metadata.file_path")))
      .withColumn("__dv_ri", col("_metadata.row_index"))
      .join(delSide,
        col("__dv_fk") === col("__dv_file") && col("__dv_ri") === col("__dv_pos"),
        "left_anti")
      .drop("__dv_fk", "__dv_ri")
  }
}
