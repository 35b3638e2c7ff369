package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{Row, SparkSession}

import graft.catalog.Catalog
import graft.engine.Engine
import graft.sqlapi.{PgDialect, SqlApi}

/** Runs one workload plan against the engine and writes what it observed.
  *
  * The plan (JSON, written by `perfbench/run.py`) names the setup steps, the
  * warm-up ops and the timed ops. Setup — session start, fixture build,
  * attach, warm-up — is timed as one span. The timed window is a closed loop
  * with one client: each op starts when the previous one has returned, and
  * the loop stops at the first boundary of a `cycle` of ops after `seconds`.
  *
  * Every call goes through the engine's public entry points:
  * `SqlApi.executePg`, `Catalog.attach` and the `Streams` upsert sinks. With
  * `trace` on, a [[Tracer]] listens to Spark's own instrumentation and the
  * driver waits for the listener bus after each op so that every event is
  * attributed to the op that caused it.
  *
  * Usage: `Driver <plan.json> <result.json> [<plan.json> <result.json> ...]`;
  * several plans run one after another in the same JVM. */
object Driver {
  private val json = new ObjectMapper()

  final case class Op(kind: String, group: String, sql: String, check: Boolean,
      table: String, batch: Int)

  private def opsOf(n: JsonNode): IndexedSeq[Op] = n.elements().asScala.map { o =>
    Op(o.path("kind").asText(), o.path("group").asText(), o.path("sql").asText(""),
      o.path("check").asBoolean(false), o.path("table").asText(""), o.path("batch").asInt(-1))
  }.toIndexedSeq

  private def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  /** A result cell as JSON: numbers (decimals too) become JSON numbers,
    * everything else its string form. Answers are compared with a tolerance. */
  private def cell(v: Any): Any = v match {
    case null => null
    case b: java.math.BigDecimal => b.doubleValue
    case b: scala.math.BigDecimal => b.toDouble
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case other => other.toString
  }

  /** Bytes and files under a table root, split into data files and log or
    * metadata files. */
  final case class Usage(files: Long, bytes: Long, dataFiles: Long, logBytes: Long) {
    def dataBytes: Long = bytes - logBytes
  }

  def usage(root: String): Usage = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Usage(0, 0, 0, 0)
    val s = Files.walk(p)
    try {
      var files, bytes, dataFiles, logBytes = 0L
      s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        val rel = p.relativize(f).toString
        val size = Files.size(f)
        val isLog = rel.startsWith("_delta_log") || rel.startsWith("metadata")
        val hidden = f.getFileName.toString.startsWith(".")
        if (!hidden) {
          files += 1; bytes += size
          if (isLog) logBytes += size
          else if (rel.endsWith(".parquet") || rel.endsWith(".bin")) dataFiles += 1
        }
      }
      Usage(files, bytes, dataFiles, logBytes)
    } finally s.close()
  }

  def main(args: Array[String]): Unit =
    args.grouped(2).foreach { case Array(plan, result) => run(new File(plan), new File(result)) }

  /** Runs one plan and writes its result. */
  def run(planFile: File, resultFile: File): Unit = {
    val plan = json.readTree(planFile)
    val cores = plan.get("cores").asInt()
    val trace = plan.get("trace").asBoolean()
    val seconds = plan.get("seconds").asDouble()
    val work = plan.get("work").asText()
    val setup = plan.get("setup").elements().asScala.toIndexedSeq
    val warmup = opsOf(plan.get("warmup"))
    val timed = opsOf(plan.get("ops"))
    // lakehouse tables: name → (format, root relative to the fixture dir)
    val lake: Seq[(String, String, String)] = plan.get("lakehouse").elements().asScala
      .map(t => (t.get("name").asText(), t.get("format").asText(), t.get("root").asText())).toSeq
    val streams = Option(plan.get("stream")).filterNot(_.isNull)

    val result = jmap()
    val attaches = new JList[Any]()
    var spark: SparkSession = null
    var fx: String = ""
    var rig: Option[StreamRig] = None
    var tracer: Option[Tracer] = None

    def sub(s: String): String = s.replace("{fx}", fx)
    def rootOf(table: String): String =
      lake.find(_._1 == table).map(t => s"$fx/${t._3}").getOrElse("")

    def attach(name: String, format: String, files: String): Unit = {
      val t0 = System.nanoTime
      Catalog.attach(spark, name, format, Map("files" -> files))
      attaches.add(jmap("format" -> format, "ms" -> ms(t0, System.nanoTime)))
    }

    /** One op; returns its record. Trace-only work (rewrite timing, root
      * listings, listener drain) happens outside the op's wall interval. */
    def runOp(i: Int, o: Op, keepRows: Boolean): JMap[String, Any] = {
      val sql = sub(o.sql)
      val rec = jmap("i" -> i, "kind" -> o.kind, "group" -> o.group)
      val before = if (trace && o.table.nonEmpty && o.group == "write") Some(usage(rootOf(o.table))) else None
      if (trace && sql.nonEmpty) {
        val r0 = System.nanoTime
        PgDialect.rewrite(sql)
        rec.put("rewrite_us", (System.nanoTime - r0) / 1e3)
      }
      tracer.foreach(_.begin(i))
      val t0 = System.nanoTime
      var t1 = t0
      var rows: Array[Row] = Array.empty
      try {
        if (o.kind == "batch") rig.get.feed(o.batch, o.table)
        else {
          val df = SqlApi.executePg(spark, sql)
          t1 = System.nanoTime
          rows = df.collect()
        }
      } catch {
        case NonFatal(e) => rec.put("err", s"${e.getClass.getName}: ${e.getMessage}".take(2000))
      }
      val t2 = System.nanoTime
      rec.put("t0_ms", tracer.map(_.epochMs(t0)).getOrElse(0.0))
      rec.put("ms", ms(t0, t2))
      if (o.kind != "batch") rec.put("call_ms", ms(t0, t1))
      rec.put("nrows", rows.length)
      if (keepRows && o.check) {
        val out = new JList[Any]()
        rows.foreach { r =>
          val l = new JList[Any]()
          (0 until r.length).foreach(c => l.add(cell(r.get(c))))
          out.add(l)
        }
        rec.put("rows", out)
      }
      tracer.foreach { tr =>
        ListenerBusAccess.drain(spark.sparkContext)
        val acc = tr.end(t0, t2, t1)
        acc.put("rows_out", rows.length.toLong)
        before.foreach { b =>
          val a = usage(rootOf(o.table))
          acc.put("files_added", (a.files - b.files).toDouble)
          acc.put("bytes_added", (a.bytes - b.bytes).toDouble)
          acc.put("data_bytes_added", (a.dataBytes - b.dataBytes).toDouble)
        }
        rec.put("trace", acc)
      }
      rec
    }

    fx = s"$work/fx"
    Files.createDirectories(Paths.get(fx))
    val t0 = System.nanoTime
    val steps = jmap()
    var at = t0
    def step(name: String): Unit = {
      val now = System.nanoTime
      steps.put(name, steps.getOrDefault(name, 0.0).asInstanceOf[Double] + ms(at, now))
      at = now
    }
    spark = Engine.session(s"local[$cores]")
    step("session")
    setup.foreach { st =>
      if (st.has("attach")) {
        attach(st.get("attach").asText(), st.get("format").asText(), sub(st.get("files").asText()))
        step("attach")
      } else {
        SqlApi.executePgScript(spark, sub(st.get("sql").asText())).collect()
        step("statements")
      }
    }
    rig = streams.map(s => new StreamRig(spark, fx, s))
    step("streams")
    warmup.zipWithIndex.foreach { case (o, i) =>
      val rec = runOp(-1 - i, o, keepRows = false)
      if (rec.containsKey("err")) throw new IllegalStateException(
        s"warm-up op ${o.kind} failed: ${rec.get("err")}")
    }
    step("warmup")
    result.put("setup_s", (System.nanoTime - t0) / 1e9)
    result.put("setup_steps_ms", steps)
    result.put("setup_attaches", new JList[Any](attaches))
    attaches.clear()

    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    if (trace) {
      heap.foreach(_.resetPeakUsage())
      tracer = Some(new Tracer(spark))
    }
    val opsOut = new JList[Any]()
    val usage0 = lake.map(t => usage(rootOf(t._1)))
    val w0 = System.nanoTime
    val deadline = w0 + (seconds * 1e9).toLong
    var i = 0
    // stop at the first cycle boundary past the deadline, so every window
    // holds whole cycles of the workload's op pattern
    val cycle = plan.path("cycle").asInt(1)
    while (i < timed.length && (System.nanoTime < deadline || i % cycle != 0)) {
      opsOut.add(runOp(i, timed(i), keepRows = true))
      i += 1
    }
    val window = (System.nanoTime - w0) / 1e9
    result.put("window_s", window)
    result.put("ops_planned", timed.length)
    result.put("ops", opsOut)
    if (trace) {
      result.put("heap_peak_mb", heap.map(_.getPeakUsage.getUsed).sum / 1048576.0)
      result.put("spans", tracer.get.spans)
      tracer.get.detach()
    }
    rig.foreach(_.stop())
    result.put("bytes_start", usage0.map(_.bytes).sum)
    result.put("data_bytes_start", usage0.map(_.dataBytes).sum)

    val tables = new JList[Any]()
    lake.foreach { case (name, format, rel) =>
      val u = usage(s"$fx/$rel")
      tables.add(jmap("name" -> name, "format" -> format, "root" -> s"$fx/$rel",
        "files" -> u.files, "bytes" -> u.bytes, "data_files" -> u.dataFiles,
        "log_bytes" -> u.logBytes))
    }
    result.put("tables", tables)

    // Durability: a fresh session attaches every lakehouse table from its
    // files alone and dumps its rows for the answer check. The traced run
    // also rewrites each table once, fresh, with the same writer, as the
    // base of space amplification.
    spark.stop()
    spark = Engine.session(s"local[$cores]")
    val dumps = new JList[Any]()
    lake.foreach { case (name, format, rel) =>
      val check = s"${name}_reattached"
      attach(check, format, s"$fx/$rel")
      val dump = s"$work/dump/$name"
      spark.table(check).write.parquet(dump)
      val d = jmap("name" -> name, "dump" -> dump)
      if (trace) {
        val fresh = s"$work/fresh/$name"
        SqlApi.executePg(spark, s"COPY (SELECT * FROM $check) TO '$fresh' (FORMAT $format)").collect()
        val u = usage(fresh)
        d.put("fresh_bytes", u.bytes)
        d.put("fresh_data_bytes", u.dataBytes)
      }
      dumps.add(d)
    }
    result.put("reattached", dumps)
    result.put("attaches", attaches)
    result.put("env", jmap(
      "spark_master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jvm" -> System.getProperty("java.vm.version")))
    spark.stop()
    json.writerWithDefaultPrettyPrinter().writeValue(resultFile, result)
  }
}
