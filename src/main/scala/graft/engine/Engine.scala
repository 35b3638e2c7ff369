package graft.engine

import org.apache.spark.sql.SparkSession

/** Engine session bootstrap — Spark-native analogue of the reference's global
  * in-process engine connection (reference: src/duckdb/connection.rs:37-65).
  *
  * One SparkSession per JVM, tuned for the target profile: a large cluster
  * reading ~100 TB of columnar data. Locally we run `local[N]`, but every
  * default here is chosen to survive a 1000-executor deployment:
  *   - AQE on (runtime shuffle-partition coalescing, skew-join splitting)
  *   - shuffle partitions sized to cores locally; on a real cluster AQE
  *     re-sizes from `advisoryPartitionSizeInBytes` so the static number is
  *     only an upper bound
  *   - UTC session timezone pinned (the oracle comparison assumes it)
  */
object Engine {

  def defaultParallelism: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString).toInt

  /** Apply engine defaults to a builder (shared by session(), Verify, Bench). */
  def configure(b: SparkSession.Builder, cores: Int = defaultParallelism): SparkSession.Builder =
    b.withExtensions { ext =>
      graft.functions.GraftFunctions.all.foreach(ext.injectFunction)
      // metadata-only count/min/max over the native lakehouse readers —
      // answered from log/manifest stats, zero file reads (plans/
      // MetadataAggregates; kill-switch spark.graft.metadataAgg=false)
      ext.injectOptimizerRule(_ => graft.plans.MetadataAggregates)
    }
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // events.parquet stores INT64 TIMESTAMP(NANOS); Spark 4 rejects it
      // unless read as raw nanos (Tables.load converts to micros).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Field-id column resolution (Iceberg's rule; survives renames). Inert
      // unless a read schema carries parquet.field.id metadata — only the
      // native Iceberg reader produces one, and only after probing that the
      // data files actually store ids (IcebergNative).
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      // A requested field id ABSENT from a data file reads as NULL — the
      // Iceberg add-column evolution rule (old files predate the column).
      // Without this, Spark errors on the first post-evolution scan.
      .config("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // File-split bin size. Spark's 128 MB default is right for a cluster
      // (100 TB → ~800k map tasks); on local[N] it bins a whole multi-file
      // table into 1-2 scan partitions and leaves N-2 cores idle on every
      // CPU-bound scan (measured: the sf1 stress ladder ran 6 M lineitem
      // rows through ONE task — q01 38 s instead of ~4). 8 MB keeps local
      // scans at ~cores-wide parallelism; cluster deployments override via
      // --conf or SPARK_GRAFT_MAX_PARTITION_BYTES (also the A/B lever —
      // BASELINE.md "bin-size A/B" documents the measured trade).
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", (8L * 1024 * 1024).toString))
      // HTTP(S) object-store reads (reference README "HTTP server" row) and
      // Hugging Face dataset URLs: Hadoop ships no http filesystem — these
      // are the native ranged-GET implementations (sources/HttpFs.scala).
      .config("spark.hadoop.fs.http.impl", "graft.sources.HttpFileSystem")
      .config("spark.hadoop.fs.https.impl", "graft.sources.HttpsFileSystem")
      .config("spark.hadoop.fs.hf.impl", "graft.sources.HfFileSystem")
      // Local files through java.nio (sources/LocalFs.scala). Without
      // libhadoop, stock Hadoop launches a process per create (chmod, for
      // the file and its .crc), per FileContext rename (readlink) and per
      // permission read (ls -ld, once per listFiles entry): measured on a
      // 4-vCPU host at 7.4 ms per create, 23.8 ms per rename and 3.7 ms per
      // listed file, against about 0.2 ms through java.nio. Stream offset
      // and commit logs, parquet writer tasks and every Delta and Iceberg
      // commit pay them. Hadoop caches one FileSystem per scheme per JVM,
      // so the first session's class serves every later `file:` caller.
      .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.sources.NioLocalFs")
      .config("spark.ui.enabled", "false")
      // Whole-stage codegen's class cache, so each query shape compiles
      // once per JVM. It is a static, JVM-wide conf: Spark reads it when it
      // first generates code, so only the first session's value counts.
      // Spark's 100 entries are split over 4 segments of 25, and a query
      // shape that was evicted compiles twice per run (on the driver for
      // exchanges and broadcasts, then in the task). Measured on local[4]:
      // the benchmark's olap_scan needs about 180 classes and recompiled
      // about 13 per op at 100 entries (1.5 at 1000); its stream_upsert
      // needs about 76. A class averages 10.6 K chars of source and 3.3 KB
      // of bytecode, so 1000 entries hold a few tens of MB at most. Dates
      // and ints are inlined into the generated Java, so each new literal
      // value still compiles a class.
      .config("spark.sql.codegen.cache.maxEntries", "1000")

  @volatile private var cached: SparkSession = _

  /** The singleton session (reference keeps one global connection per backend). */
  def session(master: String = s"local[$defaultParallelism]"): SparkSession = {
    if (cached == null || cached.sparkContext.isStopped) synchronized {
      if (cached == null || cached.sparkContext.isStopped) {
        cached = configure(SparkSession.builder().master(master).appName("graft")).getOrCreate()
        cached.sparkContext.setLogLevel("WARN")
      }
    }
    cached
  }

  /** Run SQL on the engine — the `duckdb_execute` escape hatch
    * (reference: src/api/duckdb.rs:27-29). */
  def execute(sql: String): org.apache.spark.sql.DataFrame = session().sql(sql)

  /** Cancel all running jobs in a group (reference: connection.rs:57-64
    * interrupts the engine on SIGTERM/SIGINT). */
  def cancel(group: String): Unit = session().sparkContext.cancelJobGroup(group)
}
