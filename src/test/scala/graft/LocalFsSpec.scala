package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.catalog.{DeltaSink, Sinks}
import graft.sources.{DeltaNative, IcebergNative, NioLocalFileSystem, NioLocalFs}
import graft.streaming.Streams

/** The engine's local filesystem answers as stock Hadoop does, on the same
  * tree, and launches no process for creates, renames, listings and
  * statuses. Stock Hadoop is built directly here, not taken from the
  * JVM-wide FileSystem cache (which serves the engine's class). */
class LocalFsSpec extends SparkSpec {

  private val root = URI.create("file:///")

  /** A conf with umask 027, so a default create is 0640. */
  private def conf(afs: String): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", "027")
    c.set("fs.AbstractFileSystem.file.impl", afs)
    c
  }

  private final case class Side(name: String, fs: LocalFileSystem, fc: FileContext)

  private def stock: Side = {
    val c = conf("org.apache.hadoop.fs.local.LocalFs")
    val fs = new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(root, c)
    Side("stock", fs, FileContext.getFileContext(AbstractFileSystem.createFileSystem(root, c), c))
  }

  private def engine: Side = {
    val c = conf(classOf[NioLocalFs].getName)
    val fs = new NioLocalFileSystem
    fs.initialize(root, c)
    Side("engine", fs, FileContext.getFileContext(AbstractFileSystem.createFileSystem(root, c), c))
  }

  /** Processes this thread (or, with `anyThread`, the JVM) started while
    * `body` ran, from the JDK's `jdk.ProcessStart` event (a recording
    * dumped and read back). */
  private def processStarts(body: => Unit, anyThread: Boolean = false): Int = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutThreshold()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(file)
      val me = Thread.currentThread.getId
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.count { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          (anyThread || Option(e.getThread).exists(_.getJavaThreadId == me))
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  /** Every field of a status but its times, with paths relative to `base`. */
  private def describe(st: FileStatus, base: Path): String = {
    val b = base.toUri.getPath
    def rel(p: Path): String = p.toUri.getPath.stripPrefix(b + "/")
    Seq(rel(st.getPath), st.getLen, st.isDirectory, st.isSymlink,
      if (st.isSymlink) rel(st.getSymlink) else "", st.getReplication, st.getBlockSize,
      st.getPermission, st.getOwner, st.getGroup).mkString(" ")
  }

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)

  /** The exception class `body` throws, or "ok". */
  private def outcome(body: => Any): String =
    try { body; "ok" } catch { case e: Exception => e.getClass.getName }

  private def write(s: Side, p: Path, text: String): Unit = {
    val out = s.fs.create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Creates, renames, lists and stats under `base`; the statuses and
    * outcomes, relative to `base`. */
  private def scenario(s: Side, base: Path): Seq[String] = {
    val b = Seq.newBuilder[String]
    def status(p: Path): Unit = {
      b += "fs " + describe(s.fs.getFileStatus(p), base)
      b += "fs-link " + describe(s.fs.getFileLinkStatus(p), base)
      b += "fc " + describe(s.fc.getFileStatus(p), base)
      b += "fc-link " + describe(s.fc.getFileLinkStatus(p), base)
    }
    // FileSystem create with the umask, then without overwrite
    write(s, new Path(base, "d/a.txt"), "alpha")
    b += "create-again " + outcome(s.fs.create(new Path(base, "d/a.txt"), false))
    // mkdirs with a permission (the umask applies to it)
    b += "mkdirs " + s.fs.mkdirs(new Path(base, "m/n"), octal("775"))
    status(new Path(base, "m/n"))
    // FileContext create, then rename over an existing file
    val fcFile = new Path(base, "d/b.tmp")
    val out = s.fc.create(fcFile, java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write("bravo".getBytes("UTF-8")) finally out.close()
    write(s, new Path(base, "d/b.txt"), "old")
    b += "fc-rename " + outcome(s.fc.rename(fcFile, new Path(base, "d/b.txt")))
    b += "fc-rename-overwrite " + outcome(
      s.fc.rename(fcFile, new Path(base, "d/b.txt"), Options.Rename.OVERWRITE))
    // FileSystem rename
    write(s, new Path(base, "d/c.tmp"), "charlie")
    b += "fs-rename " + s.fs.rename(new Path(base, "d/c.tmp"), new Path(base, "d/c.txt"))
    // listings hide the .crc files
    b ++= s.fs.listStatus(new Path(base, "d")).map(st => "list " + describe(st, base)).sorted
    b ++= s.fc.util.listStatus(new Path(base, "d")).map(st => "fc-list " + describe(st, base)).sorted
    val files = s.fs.listFiles(base, true)
    val located = Seq.newBuilder[String]
    while (files.hasNext) located += "listFiles " + describe(files.next(), base)
    b ++= located.result().sorted
    b += "list-file " + describe(s.fs.listStatus(new Path(base, "d/a.txt")).head, base)
    // a file, a directory, a missing path and a path under a regular file
    status(new Path(base, "d/a.txt"))
    status(new Path(base, "d"))
    Seq("d/missing", "d/a.txt/under").foreach { p =>
      b += s"$p " + outcome(s.fs.getFileStatus(new Path(base, p))) + " " +
        outcome(s.fs.getFileLinkStatus(new Path(base, p))) + " " +
        outcome(s.fc.getFileStatus(new Path(base, p))) + " " +
        outcome(s.fc.getFileLinkStatus(new Path(base, p))) + " " +
        outcome(s.fs.listStatus(new Path(base, p)))
    }
    b.result()
  }

  test("creates, renames, listings and statuses match stock Hadoop and launch no process") {
    val dir = new Path(tempDir("localfs").getPath)
    var expected: Seq[String] = Nil
    val stockStarts = processStarts { expected = scenario(stock, new Path(dir, "stock")) }
    var got: Seq[String] = Nil
    val engineStarts = processStarts { got = scenario(engine, new Path(dir, "engine")) }
    assert(got === expected)
    assert(expected.contains("create-again org.apache.hadoop.fs.FileAlreadyExistsException"))
    assert(expected.contains("fc-rename " + classOf[FileAlreadyExistsException].getName))
    assert(expected.contains("fc-rename-overwrite ok"))
    assert(expected.count(_.startsWith("list ")) === 3, "the .crc files are hidden")
    assert(expected.exists(_.matches("fs d/a.txt 5 false .* rw-r----- .*")))
    assert(expected.exists(_.matches("fs m/n \\d+ true .* rwxr-x--- .*")))
    assert(expected.contains("d/missing " + Seq.fill(5)("java.io.FileNotFoundException").mkString(" ")))
    assert(expected.contains("d/a.txt/under " + Seq.fill(5)("java.io.FileNotFoundException").mkString(" ")))
    // the counter sees stock Hadoop's chmod, ls and readlink
    assert(stockStarts > 0)
    assert(engineStarts === 0)
  }

  test("statuses of one path match stock Hadoop, times included: links, dangling links, a sticky directory") {
    val dir = tempDir("localfs_links").toPath
    Files.writeString(dir.resolve("f.txt"), "foxtrot")
    Files.createDirectory(dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("to_file"), Paths.get("f.txt"))
    Files.createSymbolicLink(dir.resolve("to_dir"), dir.resolve("sub"))
    Files.createSymbolicLink(dir.resolve("dangling"), Paths.get("nowhere"))
    val (s, e) = (stock, engine)
    val base = new Path(dir.toString)
    def full(st: FileStatus) = describe(st, base) + s" ${st.getModificationTime} ${st.getAccessTime}"
    def all(side: Side, name: String): Seq[String] = {
      val p = new Path(base, name)
      Seq(side.fs.getFileStatus(p), side.fs.getFileLinkStatus(p),
        side.fc.getFileStatus(p), side.fc.getFileLinkStatus(p)).map(full)
    }
    Seq("f.txt", "sub", "to_file", "to_dir").foreach { n =>
      assert(all(e, n) === all(s, n), n)
    }
    val linked = e.fs.getFileLinkStatus(new Path(base, "to_file"))
    assert(linked.isSymlink && linked.getSymlink.getName === "f.txt")
    // a dangling link has no status, but a link status
    val dangling = new Path(base, "dangling")
    Seq(s, e).foreach { side =>
      intercept[java.io.FileNotFoundException](side.fs.getFileStatus(dangling))
    }
    assert(full(e.fs.getFileLinkStatus(dangling)) === full(s.fs.getFileLinkStatus(dangling)))
    assert(full(e.fc.getFileLinkStatus(dangling)) === full(s.fc.getFileLinkStatus(dangling)))
    assert(e.fs.getFileLinkStatus(dangling).isSymlink)

    // the sticky bit (NIO cannot set it, so both sides run chmod) reads
    // back alike, and a plain mode on a sticky directory stays stock
    Seq(s, e).foreach { side =>
      val d = new Path(base, s"sticky_${side.name}")
      side.fs.mkdirs(d)
      side.fs.setPermission(d, octal("1777"))
      write(side, new Path(d, "x"), "x")
    }
    def sticky(side: Side, mode: String): Seq[String] = {
      val d = new Path(base, s"sticky_${side.name}")
      val before = side.fs.getFileStatus(d).getPermission.toString
      side.fs.setPermission(d, octal(mode))
      Seq(before, side.fs.getFileStatus(d).getPermission.toString,
        side.fs.getFileStatus(new Path(d, "x")).getPermission.toString)
    }
    assert(sticky(e, "755") === sticky(s, "755"))
    assert(sticky(s, "1750") === Seq("rwxr-xr-x", "rwxr-x--T", "rw-r-----"))
    assert(sticky(e, "1750") === Seq("rwxr-xr-x", "rwxr-x--T", "rw-r-----"))
  }

  test("stream upsert batches into Delta and Iceberg launch no process") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val delta = tempDir("localfs_delta").getPath + "/t"
    val iceberg = tempDir("localfs_iceberg").getPath
    DeltaSink.write(Seq((1L, "a")).toDF("k", "v"), delta, Map.empty)
    Sinks.copyTo(Seq((1L, "a")).toDF("k", "v"), iceberg, "iceberg")
    val in = MemoryStream[(Long, String)](1)
    val rows = in.toDF().toDF("k", "v")
    val queries = Seq(
      Streams.upsertDeltaStream(rows, delta, Seq("k")),
      Streams.upsertIcebergStream(rows, iceberg, "localfs", Seq("k"))
    ).map(_.option("checkpointLocation", tempDir("localfs_ck").getPath).start())
    try {
      // the first batch also starts each query's logs
      in.addData((1L, "b"), (2L, "c"))
      queries.foreach(_.processAllAvailable())
      val starts = processStarts({
        in.addData((2L, "d"), (3L, "e"))
        queries.foreach(_.processAllAvailable())
      }, anyThread = true)
      assert(starts === 0)
    } finally queries.foreach(_.stop())
    val want = Map(1L -> "b", 2L -> "d", 3L -> "e")
    assert(DeltaNative.read(spark, delta, Map.empty).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === want)
    assert(IcebergNative.read(spark, iceberg, Map.empty).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === want)
  }

  test("the session's file: FileSystem and FileContext are the engine's") {
    val hconf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(root, hconf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getClass === classOf[NioLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(hconf).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }
}
