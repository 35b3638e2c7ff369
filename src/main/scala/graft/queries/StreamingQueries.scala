package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalog.Catalog
import graft.streaming.Streams

/** Streaming operators under the SAME DuckDB-oracle gate as batch: the
  * documents corpus replays through a MemoryStream into the streaming
  * operator, the memory sink is returned as the result frame, and the
  * oracle states the equivalent BATCH SQL — a green row proves the
  * streaming path computes exactly what the batch semantics promise.
  *
  * Determinism note: the corpus feeds ONE input partition in doc_id order,
  * so per content-hash the first-arriving row (the one
  * dropDuplicatesWithinWatermark keeps) is the minimum doc_id — the same
  * keeper the batch d01 operator marks. */
object StreamingQueries {

  /** Stateful streaming ops allocate one state-store partition per shuffle
    * partition at query start, and every micro-batch commits offset/state
    * files per partition — for a bounded replay those fixed costs dominate,
    * so the replay runs with ONE state partition (the input is one ordered
    * MemoryStream partition anyway). The replay body receives a FRESH
    * per-invocation checkpoint directory (tmpfs when the host offers it,
    * `java.io.tmpdir` otherwise — never silently unset) that each
    * writeStream passes as an EXPLICIT `checkpointLocation` option: no
    * session-global conf mutation, so two harness processes (or a bench
    * pass overlapping a verify pass) can never share checkpoint state.
    * On a real unbounded feed the deployment's partition count and durable
    * checkpoint dir apply unchanged — replay-harness tuning, not operator
    * semantics. */
  private def withReplayConf[A](s: SparkSession, n: Int)(f: String => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNd = s.conf.get(ndKey)
    s.conf.set(key, n.toString)
    // no-data batches exist to advance wall-clock-ish state on a live feed;
    // a deterministic replay advances the watermark with sentinel DATA
    // batches instead, so the empty batches are pure per-batch overhead here
    s.conf.set(ndKey, "false")
    val ckParent =
      if (new java.io.File("/dev/shm").isDirectory) java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val tmpCk = java.nio.file.Files.createTempDirectory(ckParent, "graft-ck-")
    try f(tmpCk.toString) finally {
      s.conf.set(key, prev)
      s.conf.set(ndKey, prevNd)
      // reclaim the checkpoint — replays must not leak into tmpfs RAM
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(tmpCk).sorted(Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q))
      catch { case _: Exception => () }
    }
  }

  /** Unique per-invocation fixture root: `<tag>-<uuid8>` under the sf's
    * stream_fixtures dir. The r7 driver gate showed x10/x11 hash mismatches
    * with the exact signature of a torn table — two harness processes
    * sharing one FIXED on-disk root, one reading while the other rewrites.
    * Unique roots make that structurally impossible; a best-effort sweep of
    * stale siblings (>3 h old, safely past any live run) bounds disk. */
  private def freshRoot(dir: String, tag: String): java.io.File = {
    val base = new java.io.File(
      s"${FormatQueries.exportRoot(dir)}/stream_fixtures")
    base.mkdirs()
    val cutoff = System.currentTimeMillis() - 3L * 3600 * 1000
    Option(base.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith(tag + "-") && f.lastModified < cutoff)
      .foreach { f =>
        import java.nio.file._
        import java.util.Comparator
        try Files.walk(f.toPath).sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        catch { case _: Exception => () }
      }
    val r = new java.io.File(base,
      s"$tag-${java.util.UUID.randomUUID().toString.take(8)}")
    r.mkdirs()
    r
  }

  /** Loud post-stop integrity gate: a torn/doubled sink table must fail as
    * an explicit `err`, never surface as a silent hash mismatch. */
  private def assertRowCount(what: String, got: Long, expected: Long): Unit =
    if (got != expected) throw new IllegalStateException(
      s"$what: sink table holds $got rows but the stream fed $expected — " +
        "torn or doubled micro-batch commit")

  private val x01 = QueryDef(
    "x01_stream_dedup",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // explicit 1 input partition: arrival order IS doc_id order (see above)
      val in = MemoryStream[(Long, String, java.sql.Timestamp)](1)
      val out = Streams.dedupDocsStream(
        in.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "1 hour")
        .select(col("doc_id"), col("h"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x01_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
            .map(r => (r.getLong(0), r.getString(1),
              java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
          in.addData(rows.toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x01_out")
    },
    Some("""
      WITH h AS (SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
                 FROM documents)
      SELECT doc_id, h FROM (
        SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS m FROM h) x
      WHERE doc_id = m"""))

  // ---------------------------------------------------------------- x02
  // Windowed streaming counts vs the batch day-bucket GROUP BY: the events
  // table replays through the watermarked tumbling-window aggregation; a
  // sentinel event two days past the corpus maximum advances the watermark
  // so every REAL window closes (append mode emits closed windows only —
  // the sentinel's own window stays open and is therefore excluded, which
  // is exactly what the oracle's plain GROUP BY over the corpus expects).
  // Counts are order-free → fully deterministic.
  private val x02 = QueryDef(
    "x02_stream_windowed_counts",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[java.sql.Timestamp]
      val out = Streams.windowedCounts(in.toDF().toDF("ts"), "ts", "1 day", "0 seconds")
        .select(col("window.start").as("day_start"), col("n"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x02_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          // deterministic 2% slice: a replay of every event would dominate
          // the bench for no extra signal — the oracle mirrors the filter
          val ts = Tables.load(s, dir, "events")
            .filter(col("user_id") % 50 === 0)
            .select(col("ts")).collect()
            .map(_.getTimestamp(0))
          in.addData(ts.toSeq)
          q.processAllAvailable()
          // with no-data batches off, watermark-driven eviction only runs in
          // DATA batches: sentinel1 advances the watermark past every real
          // window; sentinel2's batch starts with that watermark and emits
          // them. Both sentinel windows stay open (watermark never passes
          // them), so neither leaks into the append output.
          val maxTs = ts.map(_.getTime).max
          in.addData(new java.sql.Timestamp(maxTs + 2L * 86400 * 1000))
          q.processAllAvailable()
          in.addData(new java.sql.Timestamp(maxTs + 2L * 86400 * 1000 + 1))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x02_out")
    },
    Some("""
      SELECT date_trunc('day', ts) AS day_start, count(*) AS n
      FROM events WHERE user_id % 50 = 0 GROUP BY 1"""))

  // ---------------------------------------------------------------- x03
  // Stream-stream INTERVAL JOIN (the impression ⋈ click shape) vs the batch
  // join with the identical time-bound predicate. Both sides feed the SAME
  // first micro-batch (inner joins emit on match; feeding one side first
  // would advance the watermark and drop the other side's older rows as
  // late — a replay artifact, not join semantics). The pair set is
  // order-free → deterministic.
  private val x03 = QueryDef(
    "x03_stream_interval_join",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val purchases = MemoryStream[(Long, java.sql.Timestamp)](1)
      val clicks = MemoryStream[(Long, java.sql.Timestamp)](1)
      val out = Streams.intervalJoin(
        purchases.toDF().toDF("user_id", "ts_p"),
        clicks.toDF().toDF("user_id", "ts_c"),
        "user_id", "ts_p", "ts_c", "24 hours", "0 seconds")
        .select(col("user_id"), col("ts_p"), col("ts_c"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x03_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val ev = Tables.load(s, dir, "events")
            .filter(col("event_type").isin("purchase", "click"))
            .select(col("event_type"), col("user_id"), col("ts")).collect()
          purchases.addData(ev.filter(_.getString(0) == "purchase")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          clicks.addData(ev.filter(_.getString(0) == "click")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x03_out")
    },
    Some("""
      SELECT p.user_id, p.ts AS ts_p, c.ts AS ts_c
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOUR
      WHERE p.event_type = 'purchase' AND c.event_type = 'click'"""))

  // ---------------------------------------------------------------- x04
  // LEFT-OUTER stream-stream interval join: purchases that saw no click in
  // the next 24 h must STILL emit (null ts_c) — exercising Spark's
  // watermark-expiry null-emission state machine, a different path than
  // x03's match-time emission. Replay shape: all real rows in one batch on
  // both sides (pairs emit on match), then two far-future sentinels with
  // DISTINCT negative keys (they can never join) advance the watermark —
  // sentinel 1 moves it past every real interval, sentinel 2's batch
  // evicts the expired unmatched purchases as null-extended rows. The
  // sentinels themselves stay buffered (watermark never passes them) and
  // are filtered out of the result. Oracle: the batch LEFT JOIN with the
  // identical predicate.
  private val x04 = QueryDef(
    "x04_stream_interval_left_join",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val purchases = MemoryStream[(Long, java.sql.Timestamp)](1)
      val clicks = MemoryStream[(Long, java.sql.Timestamp)](1)
      val out = Streams.intervalJoin(
        purchases.toDF().toDF("user_id", "ts_p"),
        clicks.toDF().toDF("user_id", "ts_c"),
        "user_id", "ts_p", "ts_c", "24 hours", "0 seconds", "left_outer")
        .select(col("user_id"), col("ts_p"), col("ts_c"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x04_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val ev = Tables.load(s, dir, "events")
            .filter(col("event_type").isin("purchase", "click"))
            .select(col("event_type"), col("user_id"), col("ts")).collect()
          purchases.addData(ev.filter(_.getString(0) == "purchase")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          clicks.addData(ev.filter(_.getString(0) == "click")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          q.processAllAvailable()
          val maxTs = ev.map(_.getTimestamp(2).getTime).max
          val far1 = new java.sql.Timestamp(maxTs + 2L * 86400 * 1000)
          val far2 = new java.sql.Timestamp(maxTs + 2L * 86400 * 1000 + 1)
          purchases.addData(Seq((-1L, far1))); clicks.addData(Seq((-2L, far1)))
          q.processAllAvailable()
          purchases.addData(Seq((-1L, far2))); clicks.addData(Seq((-2L, far2)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x04_out").filter(col("user_id") >= 0)
    },
    Some("""
      SELECT p.user_id, p.ts AS ts_p, c.ts AS ts_c
      FROM events p LEFT JOIN events c
        ON p.user_id = c.user_id
       AND c.event_type = 'click'
       AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOUR
      WHERE p.event_type = 'purchase'"""))

  // ---------------------------------------------------------------- x05
  // Stream-static enrichment: the event stream joins the customer dimension
  // (broadcast per micro-batch, no stream state). Rows are batch-order-free
  // and every event either matches its customer or drops (inner) — exactly
  // the batch join, whatever the batch boundaries, so the replay is
  // deterministic without watermark choreography.
  private val x05 = QueryDef(
    "x05_stream_static_enrich",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val events = MemoryStream[(Long, Long, Double)](1)
      val customers = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val out = Streams.enrichStatic(
        events.toDF().toDF("event_id", "user_id", "value"),
        customers, "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("mktsegment"), col("value"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x05_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val ev = Tables.load(s, dir, "events")
            .filter(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"), col("value")).collect()
          // two batches — the dim re-broadcasts per batch, result invariant
          val (a, b) = ev.splitAt(ev.length / 2)
          events.addData(a.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
          q.processAllAvailable()
          events.addData(b.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x05_out")
    },
    Some("""
      SELECT e.event_id, e.user_id, c.c_mktsegment AS mktsegment, e.value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      WHERE e.event_type = 'purchase'"""))

  // ---------------------------------------------------------------- x06
  // Streaming curation scrub: the SAME PII/quality kernels the batch t07
  // query uses, applied to a document stream as stateless projections —
  // scrub-on-arrival with batch-backfill parity (one code path). The
  // oracle is the batch rendering of the identical arithmetic; two-batch
  // replay proves output is batch-boundary invariant.
  private val x06 = QueryDef(
    "x06_stream_scrub",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[(Long, String)](1)
      val out = Streams.scrubStream(in.toDF().toDF("doc_id", "text"), "text", "doc_id")
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x06_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val piiTail =
            " reach me at jane.doe+spam@mail-example.org or 10.0.42.7 or call 415-555-2671"
          val rows = Tables.load(s, dir, "documents")
            .withColumn("text",
              when(col("doc_id") % 7 === 0, concat(col("text"), lit(piiTail)))
                .otherwise(col("text")))
            .select(col("doc_id"), col("text")).collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x06_out")
    },
    Some {
      val Seq((_, email, eTok), (_, ipv4, iTok), (_, phone, pTok)) =
        graft.operators.TextOps.piiPatterns
      s"""
      WITH p AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                     THEN text || ' reach me at jane.doe+spam@mail-example.org or 10.0.42.7 or call 415-555-2671'
                     ELSE text END AS text
                 FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
             CAST(len(regexp_extract_all(text, '$ipv4')) AS BIGINT) AS n_ipv4,
             CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
             regexp_replace(regexp_replace(regexp_replace(text,
               '$email', '$eTok', 'g'), '$ipv4', '$iTok', 'g'), '$phone', '$pTok', 'g') AS text_clean,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 10 AS keep
      FROM p"""
    })

  // ---------------------------------------------------------------- x07
  // STREAMING LAKEHOUSE INGESTION: readStream follows a native Delta log
  // (delta-follow V1 source, no delta-spark jar). The fixture is rebuilt
  // every run because its THIRD commit lands MID-STREAM: the first
  // processAllAvailable drains the 2-commit snapshot, commit 2 is written
  // while the query is live, and the second drain must pick up exactly the
  // new file's rows. The memory sink then holds every customer row EXACTLY
  // once — the oracle is the plain batch SELECT, so a double-read
  // (snapshot overlapping a diff) or a missed commit fails rows AND hash.
  private val x07 = QueryDef(
    "x07_stream_delta_follow",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = freshRoot(dir, "delta_follow_x07")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      def part(sub: String, m: Int): Long = {
        val tmp = new java.io.File(root, s"_tmp_$sub")
        cust.filter(col("c_custkey") % 3 === m)
          .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(root, sub)
        java.nio.file.Files.move(p.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.listFiles().foreach(_.delete()); tmp.delete()
        dest.length()
      }
      def add(sub: String, size: Long) =
        s"""{"add":{"path":"$sub","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true}}"""
      def commit(v: Long, lines: Seq[String]): Unit = {
        val log = new java.io.File(root, "_delta_log")
        log.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(log, f"$v%020d.json").toPath,
          lines.mkString("", "\n", "\n"))
      }
      val schemaJson = cust.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      commit(0L, Seq(
        s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT0}}}""",
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"x07-follow","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}""",
        add("part-m0.parquet", part("part-m0.parquet", 0))))
      commit(1L, Seq(add("part-m1.parquet", part("part-m1.parquet", 1))))
      withReplayConf(s, 1) { ck =>
        val q = Streams.followDelta(s, root.getPath)
          .writeStream.format("memory").queryName("x07_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // snapshot: commits 0-1
          // the live-table moment: a commit lands while the query runs
          commit(2L, Seq(add("part-m2.parquet", part("part-m2.parquet", 2))))
          q.processAllAvailable() // diff: (1, 2] — part-m2 only
        } finally q.stop()
      }
      s.table("x07_out")
    },
    Some("SELECT c_custkey, c_name, c_acctbal FROM customer"))

  // ---------------------------------------------------------------- x09
  // STREAMING CHANGE DATA FEED: readStream over a native Delta CDF (the
  // delta-follow source in read_change_feed mode). Commit 0's inserts
  // drain first; THEN a cdc-carried update (negative odd balances flipped,
  // preimage+postimage, whose remove/add pair must emit nothing) and a
  // whole-file delete land MID-STREAM, each drained in its own batch. The
  // memory sink must hold the exact l11-shaped feed — the oracle replays
  // it from the base table. A snapshot/diff confusion, a double-emit, or
  // a missed cdc action fails rows AND hash.
  private val x09 = QueryDef(
    "x09_stream_delta_cdf",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val root = freshRoot(dir, "delta_cdf_x09")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val odd = col("c_custkey") % 2 =!= 0
      def part(sub: String, df: org.apache.spark.sql.DataFrame): Long = {
        val tmp = new java.io.File(root, s"_tmp_${sub.replace('/', '_')}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(root, sub)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.move(p.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.listFiles().foreach(_.delete()); tmp.delete()
        dest.length()
      }
      def add(sub: String, size: Long) =
        s"""{"add":{"path":"$sub","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true}}"""
      def commit(v: Long, lines: Seq[String]): Unit = {
        val log = new java.io.File(root, "_delta_log")
        log.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(log, f"$v%020d.json").toPath,
          lines.mkString("", "\n", "\n"))
      }
      val schemaJson = cust.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val evensSz = part("part-evens.parquet", cust.filter(!odd))
      val oddsSz = part("part-odds.parquet", cust.filter(odd))
      commit(0L, Seq(
        s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT0}}}""",
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"x09-cdf","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
        add("part-evens.parquet", evensSz),
        add("part-odds.parquet", oddsSz)))
      withReplayConf(s, 1) { ck =>
        val q = Streams.followDeltaChanges(s, root.getPath, startingVersion = 0L)
          .writeStream.format("memory").queryName("x09_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // feed [0, 0]: every row as insert
          // live-table moment 1: a cdc-carried UPDATE lands mid-stream
          val touched = cust.filter(odd && col("c_acctbal") < 0)
          val cdcSz = part("_change_data/cdc-1.parquet",
            touched.withColumn("_change_type", lit("update_preimage"))
              .unionByName(touched
                .withColumn("c_acctbal", -col("c_acctbal"))
                .withColumn("_change_type", lit("update_postimage"))))
          val fixedSz = part("part-odds-fixed.parquet", cust.filter(odd)
            .withColumn("c_acctbal",
              when(col("c_acctbal") < 0, -col("c_acctbal")).otherwise(col("c_acctbal"))))
          commit(1L, Seq(
            s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT1}}}""",
            s"""{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":$cdcSz,"dataChange":false}}""",
            s"""{"remove":{"path":"part-odds.parquet","deletionTimestamp":0,"dataChange":true}}""",
            add("part-odds-fixed.parquet", fixedSz)))
          q.processAllAvailable() // feed (0, 1]: cdc rows ONLY
          // live-table moment 2: a whole-file DELETE lands mid-stream
          commit(2L, Seq(
            s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT2}}}""",
            s"""{"remove":{"path":"part-evens.parquet","deletionTimestamp":0,"dataChange":true}}"""))
          q.processAllAvailable() // feed (1, 2]: evens rows as delete
        } finally q.stop()
      }
      s.table("x09_out")
        .select("c_custkey", "c_acctbal", "_change_type", "_commit_version",
          "_commit_timestamp")
    },
    Some("""
      SELECT c_custkey, c_acctbal, 'insert' AS _change_type,
             CAST(0 AS BIGINT) AS _commit_version,
             TIMESTAMP '2023-11-14 22:13:20' AS _commit_timestamp
      FROM customer
      UNION ALL
      SELECT c_custkey, c_acctbal, 'update_preimage', 1,
             TIMESTAMP '2023-11-14 22:15:00'
      FROM customer WHERE c_custkey % 2 <> 0 AND c_acctbal < 0
      UNION ALL
      SELECT c_custkey, -c_acctbal, 'update_postimage', 1,
             TIMESTAMP '2023-11-14 22:15:00'
      FROM customer WHERE c_custkey % 2 <> 0 AND c_acctbal < 0
      UNION ALL
      SELECT c_custkey, c_acctbal, 'delete', 2, TIMESTAMP '2023-11-14 22:16:40'
      FROM customer WHERE c_custkey % 2 = 0"""))

  // ---------------------------------------------------------------- x10
  // STREAMING INTO THE LAKEHOUSE: a document stream lands in a NATIVE
  // Delta table through the delta-commit sink — one protocol commit per
  // micro-batch, each carrying a txn identifier for exactly-once — and the
  // result frame re-reads the table through the NATIVE log reader. Two
  // addData/drain rounds force two separate commits, so the oracle (the
  // plain batch aggregate of the source slice) catches a lost batch, a
  // doubled batch, or a log/reader disagreement. Both the write side and
  // the read side exceed the reference surface (DuckDB's delta extension
  // is read-only, src/duckdb/delta.rs).
  private val x10 = QueryDef(
    "x10_stream_delta_sink",
    (s, dir) => {
      import org.apache.spark.sql.functions.{avg, col, count, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "delta_sink_x10")
      root.delete() // the sink itself creates the table root on commit 0
      val in = MemoryStream[(Long, String, Long)](1)
      var fed = 0L
      withReplayConf(s, 1) { ck =>
        val q = Streams.writeDeltaStream(
          in.toDF().toDF("doc_id", "lang", "n_chars"), root.getPath, "x10-app")
          .option("checkpointLocation", ck).start()
        try {
          val rows = Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"))
            .orderBy(col("doc_id")).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          fed = rows.length.toLong
          val (first, second) = rows.splitAt(rows.length / 2)
          in.addData(first.toSeq)
          q.processAllAvailable() // commit 0 (creates the table)
          in.addData(second.toSeq)
          q.processAllAvailable() // commit 1 (append)
        } finally q.stop()
      }
      val table = Catalog.attach(s, "x10_delta_rt", "delta",
        Map("files" -> root.getPath))
      assertRowCount("x10_stream_delta_sink", table.count(), fed)
      // DOUBLE-cast sum + derived avg: keeps every value the driver hashes
      // in IEEE double space on both engines (DuckDB's sum(BIGINT) is a
      // HUGEINT, whose rendering is hasher-dependent). Sums are exact —
      // integer totals far below 2^53 — so order of aggregation is moot.
      table.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("double")).as("chars"),
          avg(col("n_chars").cast("double")).as("avg_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS n,
             sum(CAST(n_chars AS DOUBLE)) AS chars,
             avg(CAST(n_chars AS DOUBLE)) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------- x11
  // STREAMING INTO ICEBERG: the iceberg-commit sink lands each micro-batch
  // as one snapshot (summary carries the exactly-once app/batch ledger);
  // the result re-reads through the NATIVE metadata reader. Two drains →
  // two snapshots; the oracle is the plain batch aggregate, so a lost or
  // doubled batch fails rows AND hash. Both sides exceed the reference
  // (DuckDB's iceberg extension is read-only, src/duckdb/iceberg.rs).
  private val x11 = QueryDef(
    "x11_stream_iceberg_sink",
    (s, dir) => {
      import org.apache.spark.sql.functions.{avg, col, count, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "iceberg_sink_x11")
      root.delete() // the sink itself creates the table root on snapshot 1
      val in = MemoryStream[(Long, String, Long)](1)
      var fed = 0L
      withReplayConf(s, 1) { ck =>
        val q = Streams.writeIcebergStream(
          in.toDF().toDF("doc_id", "lang", "n_chars"), root.getPath, "x11-app")
          .option("checkpointLocation", ck).start()
        try {
          val rows = Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("lang"), col("n_chars"))
            .orderBy(col("doc_id")).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          fed = rows.length.toLong
          val (first, second) = rows.splitAt(rows.length / 2)
          in.addData(first.toSeq)
          q.processAllAvailable() // snapshot 1 (creates the table)
          in.addData(second.toSeq)
          q.processAllAvailable() // snapshot 2 (append)
        } finally q.stop()
      }
      val table = Catalog.attach(s, "x11_iceberg_rt", "iceberg",
        Map("files" -> root.getPath))
      assertRowCount("x11_stream_iceberg_sink", table.count(), fed)
      // Same DOUBLE-space shape as x10 (see comment there).
      table.groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars").cast("double")).as("chars"),
          avg(col("n_chars").cast("double")).as("avg_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      SELECT lang, count(*) AS n,
             sum(CAST(n_chars AS DOUBLE)) AS chars,
             avg(CAST(n_chars AS DOUBLE)) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang"""))

  // ---------------------------------------------------------------- x12
  // COMPOSED STREAMING LAKEHOUSE PIPELINE: table A's CHANGE DATA FEED
  // streams through a stateless filter (keep inserts + update postimages —
  // the "current-truth audit" shape) INTO table B via the delta-commit
  // sink, commit 1's cdc update landing mid-stream; the result re-reads B
  // through the native log reader. Source follow, feed semantics, the
  // exactly-once sink, and the reader all compose in ONE query — the
  // end-to-end pipeline a real CDC replication job runs.
  private val x12 = QueryDef(
    "x12_stream_cdf_pipeline",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, lit}
      val rootA = freshRoot(dir, "cdf_pipe_a_x12")
      val rootB = freshRoot(dir, "cdf_pipe_b_x12")
      rootB.delete() // the sink itself creates table B on its first commit
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val odd = col("c_custkey") % 2 =!= 0
      def part(sub: String, df: org.apache.spark.sql.DataFrame): Long = {
        val tmp = new java.io.File(rootA, s"_tmp_${sub.replace('/', '_')}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
        val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        val dest = new java.io.File(rootA, sub)
        dest.getParentFile.mkdirs()
        java.nio.file.Files.move(p.toPath, dest.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmp.listFiles().foreach(_.delete()); tmp.delete()
        dest.length()
      }
      def commit(v: Long, lines: Seq[String]): Unit = {
        val log = new java.io.File(rootA, "_delta_log")
        log.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(log, f"$v%020d.json").toPath,
          lines.mkString("", "\n", "\n"))
      }
      val schemaJson = cust.schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val allSz = part("part-all.parquet", cust)
      commit(0L, Seq(
        s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT0}}}""",
        s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"x12-a","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":0}}""",
        s"""{"add":{"path":"part-all.parquet","partitionValues":{},"size":$allSz,"modificationTime":0,"dataChange":true}}"""))
      withReplayConf(s, 1) { ck =>
        val q = Streams.writeDeltaStream(
          Streams.followDeltaChanges(s, rootA.getPath, startingVersion = 0L)
            .filter(col("_change_type").isin("insert", "update_postimage"))
            .select(col("c_custkey"), col("c_acctbal"), col("_change_type")),
          rootB.getPath, "x12-app")
          .option("checkpointLocation", ck).start()
        try {
          q.processAllAvailable() // inserts flow A → B
          // mid-stream cdc UPDATE on A: flip negative odd balances
          val touched = cust.filter(odd && col("c_acctbal") < 0)
          val cdcSz = part("_change_data/cdc-1.parquet",
            touched.withColumn("_change_type", lit("update_preimage"))
              .unionByName(touched
                .withColumn("c_acctbal", -col("c_acctbal"))
                .withColumn("_change_type", lit("update_postimage"))))
          val fixedSz = part("part-fixed.parquet", cust
            .withColumn("c_acctbal",
              org.apache.spark.sql.functions.when(odd && col("c_acctbal") < 0,
                -col("c_acctbal")).otherwise(col("c_acctbal"))))
          commit(1L, Seq(
            s"""{"commitInfo":{"timestamp":${FormatQueries.DeltaT1}}}""",
            s"""{"cdc":{"path":"_change_data/cdc-1.parquet","partitionValues":{},"size":$cdcSz,"dataChange":false}}""",
            s"""{"remove":{"path":"part-all.parquet","deletionTimestamp":0,"dataChange":true}}""",
            s"""{"add":{"path":"part-fixed.parquet","partitionValues":{},"size":$fixedSz,"modificationTime":0,"dataChange":true}}"""))
          q.processAllAvailable() // postimages flow A → B
        } finally q.stop()
      }
      val tableB = Catalog.attach(s, "x12_pipe_b", "delta",
        Map("files" -> rootB.getPath))
      assertRowCount("x12_stream_cdf_pipeline", tableB.count(),
        cust.count() + cust.filter(odd && col("c_acctbal") < 0).count())
      tableB.select("c_custkey", "c_acctbal", "_change_type")
    },
    Some("""
      SELECT c_custkey, c_acctbal, 'insert' AS _change_type FROM customer
      UNION ALL
      SELECT c_custkey, -c_acctbal, 'update_postimage'
      FROM customer WHERE c_custkey % 2 <> 0 AND c_acctbal < 0"""))

  // ---------------------------------------------------------------- x08
  // STREAMING ICEBERG INGESTION: the snapshot-log is the offset ledger
  // (iceberg-follow V1 source). Snapshot 1 is live when the query starts;
  // snapshot 2 (a new manifest adding the odds file, metadata.json + and
  // version-hint swapped — a real Iceberg commit) lands MID-STREAM. The
  // second drain must emit exactly the set-diff; the sink then holds every
  // orders row exactly once and the oracle is the plain batch SELECT.
  private val x08 = QueryDef(
    "x08_stream_iceberg_follow",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      import FormatQueries.IcebergScaffold._
      val root = freshRoot(dir, "iceberg_follow_x08")
      val md = new java.io.File(root, "metadata"); md.mkdirs()
      val o = Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val evens = FormatQueries.singlePart(root, "data/evens.parquet",
        o.filter(col("o_orderkey") % 2 === 0))
      val hint = new java.io.File(md, "version-hint.text").toPath
      writeAvro(new java.io.File(md, "m0.avro"), entrySchema, Seq(entry(1, evens)))
      writeAvro(new java.io.File(md, "ml0.avro"), listSchema,
        Seq(manifestListRow("metadata/m0.avro")))
      java.nio.file.Files.writeString(
        new java.io.File(md, "v1.metadata.json").toPath,
        ordersMetaJson(root, "x08-follow",
          snapshotsJson = """[{"snapshot-id": 1, "manifest-list": "metadata/ml0.avro"}]""",
          currentId = 1,
          snapshotLogJson = Some(
            s"""[{"timestamp-ms": ${FormatQueries.IceT0}, "snapshot-id": 1}]""")))
      java.nio.file.Files.writeString(hint, "1")
      withReplayConf(s, 1) { ck =>
        val q = Streams.followIceberg(s, root.getPath)
          .writeStream.format("memory").queryName("x08_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // snapshot 1: evens
          // the live-table moment: snapshot 2 commits while the query runs
          // (new manifest = EXISTING evens + ADDED odds, new metadata.json,
          // version-hint swap — the shape of a real Iceberg append)
          val odds = FormatQueries.singlePart(root, "data/odds.parquet",
            o.filter(col("o_orderkey") % 2 =!= 0))
          writeAvro(new java.io.File(md, "m1.avro"), entrySchema,
            Seq(entry(0, evens), entry(1, odds)))
          writeAvro(new java.io.File(md, "ml1.avro"), listSchema,
            Seq(manifestListRow("metadata/m1.avro")))
          java.nio.file.Files.writeString(
            new java.io.File(md, "v2.metadata.json").toPath,
            ordersMetaJson(root, "x08-follow",
              snapshotsJson =
                """[{"snapshot-id": 1, "manifest-list": "metadata/ml0.avro"},
                  | {"snapshot-id": 2, "manifest-list": "metadata/ml1.avro"}]""".stripMargin,
              currentId = 2,
              snapshotLogJson = Some(
                s"""[{"timestamp-ms": ${FormatQueries.IceT0}, "snapshot-id": 1},
                   | {"timestamp-ms": ${FormatQueries.IceT1}, "snapshot-id": 2}]""".stripMargin)))
          java.nio.file.Files.writeString(hint, "2")
          q.processAllAvailable() // set-diff: odds only
        } finally q.stop()
      }
      s.table("x08_out")
    },
    Some("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders"))

  // ---------------------------------------------------------------- x13
  // STREAMING CDC APPLY — the continuous-replication pipeline: table A
  // (CDF-enabled) streams its change feed into table B, each micro-batch
  // applied as ONE conditional MERGE (delete rows remove the key,
  // insert/update_postimage rows upsert the full row, latest-per-key
  // within the batch). A undergoes the full w04 DML triad MID-STREAM
  // (DELETE, UPDATE, MERGE through the native writer, which emits exact
  // cdc rows); when the feed drains, B's content must EQUAL A's final
  // state — the oracle replays that state in SQL, so a lost delete, a
  // double-applied update, or a missed insert breaks the hash.
  private val x13 = QueryDef(
    "x13_stream_cdc_apply",
    (s, dir) => {
      val rootA = freshRoot(dir, "cdc_apply_a_x13")
      val rootB = freshRoot(dir, "cdc_apply_b_x13")
      rootA.delete(); rootB.delete() // copyTo / the apply sink create them
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      graft.catalog.Sinks.copyTo(cust, rootA.getPath, "delta",
        Map("change_data_feed" -> "true"))
      withReplayConf(s, 1) { ck =>
        val q = Streams.applyDeltaChanges(s, rootA.getPath, rootB.getPath,
          Seq("c_custkey")).option("checkpointLocation", ck).start()
        try {
          q.processAllAvailable() // bootstrap: the snapshot batch creates B
          graft.catalog.DeltaSink.deleteWhere(s, rootA.getPath, "c_acctbal < 0")
          graft.catalog.DeltaSink.updateWhere(s, rootA.getPath,
            "c_mktsegment = 'BUILDING'", Map("c_acctbal" -> "c_acctbal * 2"))
          q.processAllAvailable() // delete + update cdc apply to B
          val src = cust.filter(col("c_custkey") % 100 === 0)
            .unionByName(cust.filter(col("c_custkey") % 100 === 1)
              .withColumn("c_custkey", col("c_custkey") + 1000000L))
          graft.catalog.DeltaSink.mergeInto(s, rootA.getPath, src,
            "t.c_custkey = s.c_custkey",
            matchedClauses = Seq(graft.catalog.MergeMatchedClause(None,
              Some(Map("c_acctbal" -> "t.c_acctbal + s.c_acctbal")))),
            insertClauses = Seq(graft.catalog.MergeInsertClause(None, None)))
          q.processAllAvailable() // merge cdc (updates + inserts) applies
        } finally q.stop()
      }
      val tableB = Catalog.attach(s, "x13_apply_b", "delta",
        Map("files" -> rootB.getPath))
      // B replicates A: same row count as A's final state, loudly checked
      assertRowCount("x13_stream_cdc_apply", tableB.count(),
        Catalog.attach(s, "x13_apply_a", "delta",
          Map("files" -> rootA.getPath)).count())
      tableB.select("c_custkey", "c_acctbal", "c_mktsegment")
    },
    Some("""
      WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      d AS (SELECT * FROM base WHERE NOT (c_acctbal < 0)),
      u AS (SELECT c_custkey,
                   CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * 2
                        ELSE c_acctbal END AS c_acctbal,
                   c_mktsegment
            FROM d),
      src AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM base
              WHERE c_custkey % 100 = 0
              UNION ALL
              SELECT c_custkey + 1000000, c_acctbal, c_mktsegment FROM base
              WHERE c_custkey % 100 = 1),
      m AS (SELECT u.c_custkey,
                   CASE WHEN s.c_custkey IS NOT NULL
                        THEN u.c_acctbal + s.c_acctbal
                        ELSE u.c_acctbal END AS c_acctbal,
                   u.c_mktsegment
            FROM u LEFT JOIN src s ON u.c_custkey = s.c_custkey),
      ins AS (SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment
              FROM src s LEFT JOIN u ON u.c_custkey = s.c_custkey
              WHERE u.c_custkey IS NULL)
      SELECT c_custkey, c_acctbal, c_mktsegment FROM m
      UNION ALL
      SELECT c_custkey, c_acctbal, c_mktsegment FROM ins"""))

  // ---------------------------------------------------------------- x14
  // STREAMING NEAR-DUP GATE: arrivals (every 4th embedding) replay in two
  // micro-batches against the banded static index of the remaining corpus;
  // every emitted (arrival, corpus match, cosine) row must hash-match the
  // batch SQL replay of the identical LSH family + bucket cap + verify —
  // proving the ingest-time gate admits/flags exactly what the batch dedup
  // pass would, mid-stream batching included. One batch DISTINCT collapses
  // band multiplicity after the replay (kept out of the stream by design —
  // no unbounded dedup state).
  private val x14 = QueryDef(
    "x14_stream_neardup_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val emb = Tables.load(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 4 =!= 0).select("vec_id", "embedding")
      val in = MemoryStream[(Long, Array[Float])](1)
      val out = Streams.nearDupGate(in.toDF().toDF("vec_id", "embedding"),
        corpus, "vec_id", "embedding", threshold = 0.35)
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x14_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = emb.filter(col("vec_id") % 4 === 0)
            .select("vec_id", "embedding").orderBy("vec_id").collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          val (b1, b2) = rows.splitAt(rows.length / 2)
          in.addData(b1.toSeq); q.processAllAvailable()
          in.addData(b2.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x14_out").select("vec_new", "vec_corpus", "cos_sim").distinct()
    },
    Some(graft.operators.Similarity.nearDupGateSql(
      "vec_id % 4 <> 0", "vec_id % 4 = 0", threshold = 0.35)))

  // ---------------------------------------------------------------- x15
  // STREAMING RAG INGESTION: Gopher keep-filter + overlapping chunk
  // windows (the t16/t17 batch kernels, unchanged) on a document stream —
  // the ingest-time retrieval-indexing shape. A stop-word tail makes the
  // corpus satisfy rule 7 so the word-count rule becomes the live gate
  // (~half the docs pass). Two-batch replay pins batch-boundary
  // invariance; the oracle replays the derivation, all 7 rules, and the
  // exact chunk arithmetic in SQL.
  private val ragTail = " the and of that have with"
  private val x15 = QueryDef(
    "x15_stream_rag_ingest",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[(Long, String)](1)
      val out = Streams.ragIngestStream(in.toDF().toDF("doc_id", "text"), "text", "doc_id")
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x15_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = Tables.load(s, dir, "documents")
            .withColumn("text", concat(col("text"), lit(ragTail)))
            .select(col("doc_id"), col("text")).collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x15_out")
    },
    Some(s"""
      WITH src AS (SELECT doc_id, text || '$ragTail' AS text FROM documents),
      m AS (SELECT doc_id, text,
              regexp_extract_all(text, '\\S+') AS words,
              string_split(text, chr(10)) AS lines,
              list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tkd,
              len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym
            FROM src),
      k AS (SELECT doc_id, text FROM m
            WHERE len(words) >= 50 AND len(words) <= 100000
              AND list_reduce(list_transform(words, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b)::DOUBLE / len(words) BETWEEN 3.0 AND 10.0
              AND n_sym::DOUBLE / len(words) <= 0.1
              AND len(list_filter(lines, l -> l LIKE '- %'))::DOUBLE / len(lines) <= 0.9
              AND len(list_filter(lines, l -> l LIKE '%...'))::DOUBLE / len(lines) <= 0.3
              AND len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]')))::DOUBLE / len(words) >= 0.8
              AND CAST(len(list_filter(['the','be','to','of','and','that','have','with'], sw -> list_contains(tkd, sw))) AS BIGINT) >= 2),
      toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM k),
      c AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM toks WHERE len(tk) > 0),
      x AS (SELECT doc_id, tk,
              unnest(generate_series(1, 1 + (greatest(n - 32, 0) + 23) // 24)) AS i
            FROM c)
      SELECT doc_id, i AS chunk_id,
             CAST((i-1)*24 + 1 AS BIGINT) AS start_tok,
             CAST(len(tk[((i-1)*24+1):((i-1)*24+32)]) AS BIGINT) AS n_tokens,
             array_to_string(tk[((i-1)*24+1):((i-1)*24+32)], ' ') AS chunk_text
      FROM x"""))

  // ---------------------------------------------------------------- x16
  // STREAMING CONTAMINATION GATE: arrivals MinHash-band row-locally and
  // stream-static join the eval set's broadcast band keys — d13's fuzzy
  // decontamination enforced at ingest time. The replay plants the same
  // jaccard≈0.9 near-dups as d13 (eval doc e's text + suffix arrives as
  // doc e+1), so real hits flow mid-stream; the oracle replays the
  // planting and the band chain, grouped to per-doc distinct-band counts.
  private val x16 = QueryDef(
    "x16_stream_contamination_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val d = Tables.load(s, dir, "documents")
      val evalSet = d.filter(col("doc_id") % 23 === 0).select("doc_id", "text")
      val planted = d.filter(col("doc_id") % 23 =!= 0)
        .join(broadcast(evalSet.select((col("doc_id") + 1).as("doc_id"),
          col("text").as("__etext"))), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__etext").isNotNull,
            concat(col("__etext"), lit(" zz extra trailing token")))
            .otherwise(col("text")).as("text"))
      val in = MemoryStream[(Long, String)](1)
      val out = Streams.contaminationGate(
        in.toDF().toDF("doc_id", "text"), evalSet, "text", "doc_id")
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x16_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = planted.orderBy("doc_id").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x16_out").groupBy("doc_id")
        .agg(countDistinct(col("band")).as("n_shared_bands"))
    },
    Some(s"""
      WITH src AS (SELECT d.doc_id,
              CASE WHEN e.doc_id IS NOT NULL
                   THEN e.text || ' zz extra trailing token' ELSE d.text END AS text
            FROM documents d LEFT JOIN
              (SELECT doc_id + 1 AS doc_id, text FROM documents WHERE doc_id % 23 = 0) e
              USING (doc_id)),
      toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM src),
      idx AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i FROM toks WHERE len(tk) >= 3),
      sh AS (SELECT doc_id, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS shingle FROM idx),
      hh AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % ${graft.operators.Dedup.P} AS hm FROM sh),
      consts(seed, a, b) AS (VALUES ${graft.operators.Dedup.constsValuesSql}),
      sig AS (SELECT doc_id, seed, min((a * hm + b) % ${graft.operators.Dedup.P}) AS minh
              FROM hh, consts GROUP BY doc_id, seed),
      bands AS (SELECT doc_id, CAST(seed // 4 AS BIGINT) AS band,
                       string_agg(minh, ',' ORDER BY seed) AS band_sig
                FROM sig GROUP BY doc_id, seed // 4),
      eb AS (SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % 23 = 0),
      cb AS (SELECT * FROM bands WHERE doc_id % 23 <> 0)
      SELECT doc_id, CAST(count(DISTINCT band) AS BIGINT) AS n_shared_bands
      FROM cb JOIN eb USING (band, band_sig) GROUP BY doc_id"""))

  // ---------------------------------------------------------------- x17
  // STREAMING INTO A TRANSFORM-PARTITIONED ICEBERG TABLE — the canonical
  // ingestion pipeline: each micro-batch's snapshot fans its files out by
  // day(ts) + truncate(2, event_type) (the r8 transform-write machinery
  // under the streaming sink's exactly-once ledger), and the result
  // re-reads the table through the native reader grouped per UTC day. A
  // row landing in the wrong partition file, a lost/doubled batch, or a
  // tuple-typed manifest error fails rows AND hash against the batch
  // replay of the same slice.
  private val x17 = QueryDef(
    "x17_stream_partitioned_ingest",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, count, date_trunc, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "iceberg_part_sink_x17")
      root.delete() // the sink itself creates the table root on snapshot 1
      val in = MemoryStream[(Long, String, java.sql.Timestamp, Double)](1)
      var fed = 0L
      withReplayConf(s, 1) { ck =>
        val q = Streams.writeIcebergStream(
          in.toDF().toDF("event_id", "event_type", "ts", "value"),
          root.getPath, "x17-app")
          .option("partition_by", "day(ts), truncate(2, event_type)")
          .option("checkpointLocation", ck).start()
        try {
          val rows = Tables.load(s, dir, "events")
            .filter(col("user_id") % 50 === 0)
            .select(col("event_id"), col("event_type"), col("ts"), col("value"))
            .orderBy(col("event_id")).collect()
            .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2), r.getDouble(3)))
          fed = rows.length.toLong
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable() // snapshot 1
          in.addData(b.toSeq); q.processAllAvailable() // snapshot 2
        } finally q.stop()
      }
      val table = Catalog.attach(s, "x17_iceberg_part_rt", "iceberg",
        Map("files" -> root.getPath))
      assertRowCount("x17_stream_partitioned_ingest", table.count(), fed)
      table.groupBy(date_trunc("day", col("ts")).as("day_start"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
    },
    Some("""
      SELECT date_trunc('day', ts) AS day_start, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events WHERE user_id % 50 = 0 GROUP BY 1"""))

  // ---------------------------------------------------------------- x18
  // STREAMING UPSERT INTO ICEBERG — the Flink-CDC pattern end to end:
  // batch 1 seeds every customer, batch 2 re-delivers a slice with doubled
  // balances plus brand-new keys; each micro-batch is ONE snapshot
  // carrying an equality delete on the key + the batch's rows, so the
  // final table is latest-write-per-key. The read-back goes through the
  // native reader's equality-delete evaluation; a resurrected stale image,
  // a same-commit self-delete, or a doubled batch fails rows AND hash.
  private val x18 = QueryDef(
    "x18_stream_iceberg_upsert",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "iceberg_upsert_x18")
      root.delete() // the sink itself creates the table root on batch 0
      val in = MemoryStream[(Long, Double, String)](1)
      withReplayConf(s, 1) { ck =>
        val q = Streams.upsertIcebergStream(
          in.toDF().toDF("c_custkey", "c_acctbal", "c_mktsegment"),
          root.getPath, "x18-app", Seq("c_custkey"))
          .option("checkpointLocation", ck).start()
        try {
          val cust = Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
            .orderBy(col("c_custkey")).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
          in.addData(cust.toSeq)
          q.processAllAvailable() // batch 0: creates the table, full seed
          val updates = cust.filter(_._1 % 10 == 0)
            .map { case (k, b, m) => (k, b * 2, m) } ++
            cust.filter(_._1 % 100 == 1)
              .map { case (k, b, m) => (k + 1000000L, b, m) }
          in.addData(updates.toSeq)
          q.processAllAvailable() // batch 1: ONE upsert snapshot
        } finally q.stop()
      }
      Catalog.attach(s, "x18_iceberg_upsert_rt", "iceberg",
        Map("files" -> root.getPath))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    },
    Some("""
      WITH up AS (
        SELECT c_custkey, c_acctbal * 2 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 100 = 1),
      survivors AS (
        SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment
        FROM customer c LEFT JOIN up ON up.c_custkey = c.c_custkey
        WHERE up.c_custkey IS NULL),
      final AS (SELECT * FROM survivors UNION ALL SELECT * FROM up)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM final GROUP BY c_mktsegment"""))

  // ---------------------------------------------------------------- x19
  // STREAMING UPSERT INTO DELTA — x18's copy-on-write sibling: each
  // micro-batch applies as ONE full-row MERGE keyed on c_custkey
  // (idempotent under re-delivery, last-row-per-key within a batch), so
  // the table converges to latest-write-per-key. Same feed shape and the
  // SAME oracle replay as x18, so the two lakehouse upsert paths are
  // pinned to identical semantics.
  private val x19 = QueryDef(
    "x19_stream_delta_upsert",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "delta_upsert_x19")
      root.delete() // the sink bootstraps the table on batch 0
      val in = MemoryStream[(Long, Double, String)](1)
      withReplayConf(s, 1) { ck =>
        val q = Streams.upsertDeltaStream(
          in.toDF().toDF("c_custkey", "c_acctbal", "c_mktsegment"),
          root.getPath, Seq("c_custkey"))
          .option("checkpointLocation", ck).start()
        try {
          val cust = Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
            .orderBy(col("c_custkey")).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
          in.addData(cust.toSeq)
          q.processAllAvailable() // batch 0: bootstrap
          val updates = cust.filter(_._1 % 10 == 0)
            .map { case (k, b, m) => (k, b * 2, m) } ++
            cust.filter(_._1 % 100 == 1)
              .map { case (k, b, m) => (k + 1000000L, b, m) }
          in.addData(updates.toSeq)
          q.processAllAvailable() // batch 1: one MERGE
        } finally q.stop()
      }
      Catalog.attach(s, "x19_delta_upsert_rt", "delta",
        Map("files" -> root.getPath))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    },
    Some("""
      WITH up AS (
        SELECT c_custkey, c_acctbal * 2 AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 100 = 1),
      survivors AS (
        SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment
        FROM customer c LEFT JOIN up ON up.c_custkey = c.c_custkey
        WHERE up.c_custkey IS NULL),
      final AS (SELECT * FROM survivors UNION ALL SELECT * FROM up)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM final GROUP BY c_mktsegment"""))

  // ---------------------------------------------------------------- x20
  // PARTITIONED STREAMING UPSERT — x17's transform partitioning composed
  // with x18's upsert snapshots: batch 0 creates the table partitioned by
  // (identity segment, bucket(4, key)); batch 1's upsert moves every
  // updated key to segment 'RELOCATED' — a PARTITION MOVE — so the global-
  // scope equality delete must kill old images in OTHER partitions while
  // the new rows fan out per the spec. The w11 batch path and this
  // streaming path replay the SAME oracle, pinning identical semantics.
  private val x20 = QueryDef(
    "x20_stream_partitioned_upsert",
    (s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val root = freshRoot(dir, "iceberg_part_upsert_x20")
      root.delete() // the sink itself creates the table root on batch 0
      val in = MemoryStream[(Long, Double, String)](1)
      withReplayConf(s, 1) { ck =>
        val q = Streams.upsertIcebergStream(
          in.toDF().toDF("c_custkey", "c_acctbal", "c_mktsegment"),
          root.getPath, "x20-app", Seq("c_custkey"),
          partitionBy = Some("c_mktsegment, bucket(4, c_custkey)"))
          .option("checkpointLocation", ck).start()
        try {
          val cust = Tables.load(s, dir, "customer")
            .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
            .orderBy(col("c_custkey")).collect()
            .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
          in.addData(cust.toSeq)
          q.processAllAvailable() // batch 0: creates the partitioned table
          val updates = cust.filter(_._1 % 10 == 0)
            .map { case (k, b, _) => (k, b * 2, "RELOCATED") } ++
            cust.filter(_._1 % 100 == 1)
              .map { case (k, b, m) => (k + 1000000L, b, m) }
          in.addData(updates.toSeq)
          q.processAllAvailable() // batch 1: ONE upsert snapshot, moves
        } finally q.stop()
      }
      Catalog.attach(s, "x20_iceberg_part_upsert_rt", "iceberg",
        Map("files" -> root.getPath))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("bal"))
    },
    Some("""
      WITH up AS (
        SELECT c_custkey, c_acctbal * 2 AS c_acctbal,
               'RELOCATED' AS c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        SELECT c_custkey + 1000000, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 100 = 1),
      survivors AS (
        SELECT c.c_custkey, c.c_acctbal, c.c_mktsegment
        FROM customer c LEFT JOIN up ON up.c_custkey = c.c_custkey
        WHERE up.c_custkey IS NULL),
      final AS (SELECT * FROM survivors UNION ALL SELECT * FROM up)
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
      FROM final GROUP BY c_mktsegment"""))

  // ---------------------------------------------------------------- x21
  // STREAMING ICEBERG CHANGELOG — the CDC sibling of x08: the stream
  // emits every row CHANGE (insert/delete, snapshot-attributed) instead
  // of new rows only. Snapshot 1 (evens CTAS) is live at start and drains
  // as the initial inserts; MID-STREAM the table takes a positional
  // DELETE (snap 2) and an append (snap 3) through the native writer; the
  // second drain must emit exactly the delete rows stamped snap 2 and the
  // insert rows stamped snap 3. The oracle replays all three waves from
  // the raw table — a lost delete side, leaked compaction rewrite, or
  // wrong attribution fails rows AND hash.
  private val x21 = QueryDef(
    "x21_stream_iceberg_changelog",
    (s, dir) => {
      import org.apache.spark.sql.functions.col
      val root = freshRoot(dir, "iceberg_changelog_x21")
      val cust = Tables.load(s, dir, "customer")
        .select("c_custkey", "c_mktsegment")
      graft.catalog.Sinks.copyTo(
        cust.filter(col("c_custkey") % 2 === 0), root.getPath, "iceberg")
      withReplayConf(s, 1) { ck =>
        val q = Streams.followIcebergChangelog(s, root.getPath)
          .writeStream.format("memory").queryName("x21_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // snap 1: initial inserts (evens)
          graft.catalog.IcebergSink.deleteWhere(s, root.getPath,
            "c_mktsegment = 'BUILDING'")                    // snap 2
          graft.catalog.Sinks.copyTo(
            cust.filter(col("c_custkey") % 2 =!= 0), root.getPath, "iceberg") // snap 3
          q.processAllAvailable()
        } finally q.stop()
      }
      val out = s.table("x21_out")
      val evens = cust.filter(col("c_custkey") % 2 === 0)
      assertRowCount("x21_stream_iceberg_changelog", out.count(),
        evens.count() +
          evens.filter(col("c_mktsegment") === "BUILDING").count() +
          cust.filter(col("c_custkey") % 2 =!= 0).count())
      out.select(col("c_custkey"), col("c_mktsegment"),
        col("_change_type").as("change"),
        col("_commit_snapshot_id").as("snap"))
    },
    Some("""
      SELECT c_custkey, c_mktsegment, 'insert' AS change, CAST(1 AS BIGINT) AS snap
      FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, 'delete', CAST(2 AS BIGINT)
      FROM customer WHERE c_custkey % 2 = 0 AND c_mktsegment = 'BUILDING'
      UNION ALL
      SELECT c_custkey, c_mktsegment, 'insert', CAST(3 AS BIGINT)
      FROM customer WHERE c_custkey % 2 <> 0"""))

  // ---------------------------------------------------------------- x22
  // STREAMING CDF WITH ROW IDENTITY: the change-feed follower in
  // `row_tracking=true` mode — every micro-batch's change rows carry
  // `_row_id`/`_row_commit_version`, so a downstream CDC consumer can
  // correlate an update's pre/post pair WITHOUT a key column, live. The
  // w15 commit ladder replays mid-stream (UPDATE → append → OPTIMIZE move
  // → UPDATE), so the batches must serve materialized cdc ids, synthesized
  // base+position ids, AND ids that survived a compaction move — any
  // allocation drift across the stream/batch boundary breaks the hash.
  private val x22 = QueryDef(
    "x22_stream_cdf_row_identity",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = freshRoot(dir, "delta_cdfrt_x22")
      root.delete() // the writer creates the table root at commit 0
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      graft.catalog.DeltaSink.write(
        cust.filter(col("c_custkey") % 3 =!= 0)
          .coalesce(1).sortWithinPartitions("c_custkey"),
        root.getPath, Map("row_tracking" -> "true", "change_data_feed" -> "true"))
      withReplayConf(s, 1) { ck =>
        val q = Streams.followDeltaChanges(s, root.getPath, startingVersion = 0L,
          Map("row_tracking" -> "true"))
          .writeStream.format("memory").queryName("x22_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          q.processAllAvailable() // feed [0, 0]: create rows as inserts, ids 0..N0-1
          graft.catalog.DeltaSink.updateWhere(s, root.getPath,
            "c_custkey % 10 = 3", Map("c_acctbal" -> "c_acctbal + 100"))
          q.processAllAvailable() // (0, 1]: cdc pre/post pairs share their id
          graft.catalog.DeltaSink.write(
            cust.filter(col("c_custkey") % 3 === 0)
              .coalesce(1).sortWithinPartitions("c_custkey"),
            root.getPath, Map.empty)
          graft.catalog.DeltaSink.optimize(s, root.getPath)
          graft.catalog.DeltaSink.updateWhere(s, root.getPath,
            "c_custkey % 10 = 7", Map("c_name" -> "upper(c_name)"))
          q.processAllAvailable() // (1, 4]: inserts + silent OPTIMIZE + moved-id cdc
        } finally q.stop()
      }
      s.table("x22_out")
        .groupBy(col("_change_type").as("change"),
          col("_commit_version").as("cver"))
        .agg(count(lit(1)).as("n"), sum(col("_row_id")).as("sum_rid"),
          sum(col("_row_commit_version")).as("sum_ver"))
    },
    Some("""
      WITH init AS (
        SELECT c_custkey, row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        FROM customer WHERE c_custkey % 3 <> 0),
      app AS (
        SELECT c_custkey,
               2 * (SELECT count(*) FROM customer WHERE c_custkey % 3 <> 0)
                 + row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        FROM customer WHERE c_custkey % 3 = 0),
      allr AS (
        SELECT c_custkey, rid,
               CASE WHEN c_custkey % 10 = 3 THEN 1 ELSE 0 END AS ver FROM init
        UNION ALL SELECT c_custkey, rid, 2 AS ver FROM app),
      feed AS (
        SELECT 'insert' AS change, 0 AS cver, rid, 0 AS ver FROM init
        UNION ALL SELECT 'update_preimage', 1, rid, 0
          FROM init WHERE c_custkey % 10 = 3
        UNION ALL SELECT 'update_postimage', 1, rid, 1
          FROM init WHERE c_custkey % 10 = 3
        UNION ALL SELECT 'insert', 2, rid, 2 FROM app
        UNION ALL SELECT 'update_preimage', 4, rid, ver
          FROM allr WHERE c_custkey % 10 = 7
        UNION ALL SELECT 'update_postimage', 4, rid, 4
          FROM allr WHERE c_custkey % 10 = 7)
      SELECT change, CAST(cver AS BIGINT) AS cver, count(*) AS n,
             CAST(sum(rid) AS BIGINT) AS sum_rid,
             CAST(sum(ver) AS BIGINT) AS sum_ver
      FROM feed GROUP BY change, cver"""))

  // ---------------------------------------------------------------- x23
  // KEYLESS CDC REPLICATION: continuously replicate a table that has NO
  // usable primary key — the motivating consumer of stable row identity.
  // The source carries only (seg, nat), massively duplicated (125 distinct
  // pairs over ~1000 rows), so x13's key-based apply is impossible; the
  // apply instead keys every MERGE on the feed's `_row_id`. The replica
  // must survive an append (fresh ids insert), an UPDATE (pre/post pairs
  // correlate by id), and a DELETE (rows drop by id) — and the oracle
  // replays the id-allocation lattice from raw, so any identity drift
  // breaks rows AND hash.
  private val x23 = QueryDef(
    "x23_stream_keyless_replication",
    (s, dir) => {
      val rootA = freshRoot(dir, "keyless_a_x23")
      val rootB = freshRoot(dir, "keyless_b_x23")
      rootA.delete(); rootB.delete()
      val cust = Tables.load(s, dir, "customer")
      def slice(pred: org.apache.spark.sql.Column) = cust.filter(pred)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"),
          col("c_nationkey").as("nat"))
        .coalesce(1).sortWithinPartitions("c_custkey").drop("c_custkey")
      graft.catalog.DeltaSink.write(slice(col("c_custkey") % 3 =!= 0),
        rootA.getPath,
        Map("row_tracking" -> "true", "change_data_feed" -> "true"))
      withReplayConf(s, 1) { ck =>
        val q = Streams.applyDeltaChanges(s, rootA.getPath, rootB.getPath,
          Seq("_row_id"), options = Map("row_tracking" -> "true"))
          .option("checkpointLocation", ck).start()
        try {
          q.processAllAvailable() // bootstrap: snapshot rows WITH their ids
          graft.catalog.DeltaSink.write(slice(col("c_custkey") % 3 === 0),
            rootA.getPath, Map.empty)
          q.processAllAvailable() // append: fresh ids insert by id
          graft.catalog.DeltaSink.updateWhere(s, rootA.getPath,
            "nat % 5 = 2", Map("seg" -> "lower(seg)"))
          graft.catalog.DeltaSink.deleteWhere(s, rootA.getPath, "nat = 7")
          q.processAllAvailable() // update pairs + deletes apply BY ID
        } finally q.stop()
      }
      val tableB = Catalog.attach(s, "x23_keyless_b", "delta",
        Map("files" -> rootB.getPath))
      assertRowCount("x23_stream_keyless_replication", tableB.count(),
        Catalog.attach(s, "x23_keyless_a", "delta",
          Map("files" -> rootA.getPath)).count())
      tableB.groupBy("seg", "nat")
        .agg(count(lit(1)).as("n"), sum(col("_row_id")).as("sum_rid"))
    },
    Some("""
      WITH init AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        FROM customer WHERE c_custkey % 3 <> 0),
      app AS (
        SELECT c_mktsegment AS seg, c_nationkey AS nat,
               (SELECT count(*) FROM customer WHERE c_custkey % 3 <> 0)
                 + row_number() OVER (ORDER BY c_custkey) - 1 AS rid
        FROM customer WHERE c_custkey % 3 = 0),
      allr AS (SELECT * FROM init UNION ALL SELECT * FROM app),
      fin AS (
        SELECT CASE WHEN nat % 5 = 2 THEN lower(seg) ELSE seg END AS seg,
               nat, rid
        FROM allr WHERE nat <> 7)
      SELECT seg, nat, count(*) AS n, CAST(sum(rid) AS BIGINT) AS sum_rid
      FROM fin GROUP BY seg, nat"""))

  // ---------------------------------------------------------------- x24
  // STREAMING SUBSTRING GATE: arrivals hash their 8-token grams row-locally
  // and stream-static join the corpus's duplicated-gram set — d14's exact
  // substring scrub enforced at ingest time ("this arrival repeats text the
  // corpus already holds twice"). Same planted corpus as d14 (shared
  // passage on doc_id%6), replayed in two batches; the oracle replays the
  // plant + the dup-gram derivation + the per-doc distinct hit counts.
  private val x24 = QueryDef(
    "x24_stream_substring_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val corpus = PipelineQueries.plantedDocs(s, dir)
      // pin the dup-gram generation (substringGate's scaladoc contract:
      // "derive it once" — an unmaterialized static side re-runs the whole
      // corpus gram pass every micro-batch)
      val dup = Streams.dupGramsOf(corpus, "text", "doc_id", PipelineQueries.scrubK)
      Streams.pinStatic(dup)
      val in = MemoryStream[(Long, String)](1)
      val out = Streams.substringGate(
        in.toDF().toDF("doc_id", "text"), dup, "text", "doc_id",
        PipelineQueries.scrubK)
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x24_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = corpus.orderBy("doc_id").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x24_out").groupBy("doc_id")
        .agg(countDistinct(col("gram_h")).as("n_dup_grams"))
    },
    Some(s"""
      WITH src AS (SELECT doc_id,
                     text || CASE WHEN doc_id % 6 = 0 THEN ' ${PipelineQueries.plantPassage}' ELSE '' END AS text
                   FROM documents),
      t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM src),
      g AS (SELECT DISTINCT doc_id,
                   md5(array_to_string(tk[i:i+${PipelineQueries.scrubK - 1}], ' ')) AS h
            FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - ${PipelineQueries.scrubK - 1})) AS i
                  FROM t WHERE len(tk) >= ${PipelineQueries.scrubK})),
      dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
      FROM g JOIN dup USING (h) GROUP BY doc_id"""))

  // ---------------------------------------------------------------- x25
  // SESSION WINDOWS in the stream — the gap-sessionization shape (q33's
  // batch operator) as a watermarked session_window aggregation: per-user
  // events merge while each arrives within 30 min of the session's end;
  // append mode emits a session only once the watermark passes it, so the
  // oracle is the plain batch gaps-and-islands over the same slice (break
  // strictly > gap, end = last event + gap — boundary semantics pinned by
  // Spark's session merge rule and replayed identically in SQL). Sentinel
  // events under user_id -1 (outside the slice) advance the watermark so
  // every REAL session closes; the sentinel's own session stays open and
  // never reaches the sink.
  private val x25 = QueryDef(
    "x25_stream_session_window",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[(Long, java.sql.Timestamp)](1)
      val out = Streams.sessionCounts(
        in.toDF().toDF("user_id", "ts"), "user_id", "ts", "30 minutes", "0 seconds")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x25_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = Tables.load(s, dir, "events")
            .filter(col("user_id") % 50 === 0)
            .select(col("user_id"), col("ts")).collect()
            .map(r => (r.getLong(0), r.getTimestamp(1)))
          in.addData(rows.toSeq)
          q.processAllAvailable()
          // no-data batches are off (withReplayConf): sentinel1 advances
          // the watermark past every real session end, sentinel2's batch
          // evicts and emits them; both sentinel sessions stay open
          val maxTs = rows.map(_._2.getTime).max
          in.addData((-1L, new java.sql.Timestamp(maxTs + 2L * 86400 * 1000)))
          q.processAllAvailable()
          in.addData((-1L, new java.sql.Timestamp(maxTs + 2L * 86400 * 1000 + 1)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x25_out")
    },
    Some("""
      WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events
                 WHERE user_id % 50 = 0),
      g AS (SELECT user_id, ts_us,
                   lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev_us
            FROM e),
      s AS (SELECT user_id, ts_us,
                   CAST(sum(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                                 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_n
            FROM g)
      SELECT user_id, min(ts_us) AS session_start_us,
             max(ts_us) + 1800000000 AS session_end_us,
             count(*) AS n_events
      FROM s GROUP BY user_id, sess_n"""))

  // ---------------------------------------------------------------- x26
  // ARBITRARY STATE v2: Spark 4's transformWithState (typed ValueState on
  // the RocksDB state store — the modern successor to x-series
  // mapGroupsWithState) computing per-key batch + cumulative counts. The
  // replay feeds two DETERMINISTIC micro-batches (even event_ids, then
  // odd), so each key emits one row per batch it appears in, carrying that
  // batch's count and the running total; the oracle replays the same split
  // as a grouped count + running sum. Row order inside a batch cannot leak
  // into the output (the processor emits per-batch aggregates only).
  private val x26 = QueryDef(
    "x26_stream_transform_with_state",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val prevProv = s.conf.getOption(provKey)
      // transformWithState requires the RocksDB provider; scope it to this
      // stream and restore the session default after
      s.conf.set(provKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val in = MemoryStream[Long](1)
        val out = Streams.batchCumCounts(in.toDF().toDF("user_id"), "user_id")
        withReplayConf(s, 1) { ck =>
          val q = out.writeStream.format("memory").queryName("x26_out")
            .option("checkpointLocation", ck)
            .outputMode("append").start()
          try {
            val ev = Tables.load(s, dir, "events")
              .filter(col("user_id") % 43 === 0)
              .select(col("user_id"), col("event_id")).collect()
              .map(r => (r.getLong(0), r.getLong(1)))
            in.addData(ev.filter(_._2 % 2 == 0).map(_._1).toSeq)
            q.processAllAvailable()
            in.addData(ev.filter(_._2 % 2 != 0).map(_._1).toSeq)
            q.processAllAvailable()
          } finally q.stop()
        }
        s.table("x26_out")
      } finally prevProv match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    },
    Some("""
      WITH e AS (SELECT user_id, CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS b
                 FROM events WHERE user_id % 43 = 0),
      a AS (SELECT user_id, b, count(*) AS n_batch FROM e GROUP BY user_id, b)
      SELECT user_id, n_batch,
             CAST(sum(n_batch) OVER (PARTITION BY user_id ORDER BY b) AS BIGINT) AS n_cum
      FROM a"""))

  // ---------------------------------------------------------------- x27
  // STREAMING DSIR GATE: t18's integer-quantized target-likeness weights
  // enforced at ingest — the bucket-score array derives once from the
  // static corpus (one batch pass, 64-entry driver literal), then each
  // arriving document scores row-locally and only weight >= 24M survives.
  // Stateless (no watermark, no state store, no join), two-batch replay
  // pins batch-boundary invariance; the oracle replays the full derivation
  // (distribution estimate, quantized ratios, fold, threshold) in SQL.
  private val x27 = QueryDef(
    "x27_stream_dsir_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val scores = PipelineQueries.dsirScores(s, dir)
      val in = MemoryStream[(Long, String)](1)
      val out = Streams.dsirGate(
        in.toDF().toDF("doc_id", "text"), "text", scores, minWeight = 24000000L)
        .select(col("doc_id"), col("weight"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x27_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val rows = Tables.load(s, dir, "documents")
            .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
            .map(r => (r.getLong(0), r.getString(1)))
          val (a, b) = rows.splitAt(rows.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x27_out")
    },
    Some("""
      WITH tok AS (SELECT doc_id, lang,
                          unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
                   FROM documents),
      tb AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS b
             FROM tok),
      dist AS (SELECT ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS bk,
                      count(*) AS r,
                      sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
               FROM tok GROUP BY 1),
      sc AS (SELECT g.range AS bk,
                    (coalesce(d.t, 0) + 1) * 1000000 // (coalesce(d.r, 0) + 1) AS s
             FROM range(0, 64) g LEFT JOIN dist d ON d.bk = g.range),
      w AS (SELECT tb.doc_id, CAST(sum(sc.s) AS BIGINT) AS weight
            FROM tb JOIN sc ON sc.bk = tb.b GROUP BY tb.doc_id)
      SELECT doc_id, weight FROM w WHERE weight >= 24000000"""))

  // ---------------------------------------------------------------- x28
  // STREAMING GEOFENCE GATE: g13's native point-in-polygon predicate as a
  // stream-static semi-join — arriving points pass only if some fence of
  // the broadcast polygon layer contains them (holes excluding). Stateless
  // (bounded static side, no watermark/state), two-batch replay pins
  // batch-boundary invariance; the oracle replays containment as the same
  // strict interval arithmetic as g13, reduced to the distinct contained
  // points.
  private val x28 = QueryDef(
    "x28_stream_geofence_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val fences = FormatQueries.measurePolygons(s, dir)
        .select(col("nationkey").as("polykey"), col("geom").as("fence_geom"))
      val pts = FormatQueries.probePoints(s, dir)
        .select(col("pointkey"), col("geom")).collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      val in = MemoryStream[(Long, Array[Byte])](1)
      val out = Streams.geofenceGate(
        in.toDF().toDF("pointkey", "pt_geom"), fences, "pt_geom", "fence_geom")
        .select(col("pointkey"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x28_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val (a, b) = pts.splitAt(pts.length / 2)
          in.addData(a.toSeq); q.processAllAvailable()
          in.addData(b.toSeq); q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x28_out")
    },
    Some("""
      WITH poly AS (SELECT range AS p,
                           (range % 3) * 2 + 2 AS w, (range % 2) * 2 + 4 AS h,
                           CAST(range AS DOUBLE) AS x0, CAST(2 * range AS DOUBLE) AS y0,
                           (range % 5 = 0) AS holed
                    FROM range(0, 25)),
      pt AS (SELECT range AS k, range / 2.0 + 0.25 AS px, range + 0.25 AS py
             FROM range(0, 25))
      SELECT DISTINCT CAST(pt.k AS BIGINT) AS pointkey
      FROM pt JOIN poly
        ON pt.px > poly.x0 AND pt.px < poly.x0 + poly.w
       AND pt.py > poly.y0 AND pt.py < poly.y0 + poly.h
       AND NOT (poly.holed
                AND abs(pt.px - (poly.x0 + poly.w / 2.0)) < 0.5
                AND abs(pt.py - (poly.y0 + poly.h / 2.0)) < 1.0)"""))

  // ---------------------------------------------------------------- x29
  // FULL-OUTER stream-stream interval join — the last cell of the join
  // matrix (inner x03, left x04): BOTH sides' unmatched rows null-extend
  // on watermark expiry — purchases with no click AND clicks with no
  // purchase in the window. Replay shape mirrors x04: all real rows in one
  // batch on both sides (pairs emit on match), two far-future sentinel
  // rounds with distinct negative keys expire both sides' state; the
  // sentinels themselves stay buffered and filter out. The key coalesces
  // across sides (a click-only row has no left key). Oracle: the batch
  // FULL JOIN with the identical predicate.
  private val x29 = QueryDef(
    "x29_stream_interval_full_join",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val purchases = MemoryStream[(Long, java.sql.Timestamp)](1)
      val clicks = MemoryStream[(Long, java.sql.Timestamp)](1)
      val out = Streams.intervalJoin(
        purchases.toDF().toDF("user_id", "ts_p"),
        clicks.toDF().toDF("user_id", "ts_c"),
        "user_id", "ts_p", "ts_c", "24 hours", "0 seconds", "full_outer")
        .select(col("user_id"), col("ts_p"), col("ts_c"))
      withReplayConf(s, 1) { ck =>
        val q = out.writeStream.format("memory").queryName("x29_out")
          .option("checkpointLocation", ck)
          .outputMode("append").start()
        try {
          val ev = Tables.load(s, dir, "events")
            .filter(col("event_type").isin("purchase", "click"))
            .select(col("event_type"), col("user_id"), col("ts")).collect()
          purchases.addData(ev.filter(_.getString(0) == "purchase")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          clicks.addData(ev.filter(_.getString(0) == "click")
            .map(r => (r.getLong(1), r.getTimestamp(2))).toSeq)
          q.processAllAvailable()
          val maxTs = ev.map(_.getTimestamp(2).getTime).max
          val far1 = new java.sql.Timestamp(maxTs + 2L * 86400 * 1000)
          val far2 = new java.sql.Timestamp(maxTs + 2L * 86400 * 1000 + 1)
          purchases.addData(Seq((-1L, far1))); clicks.addData(Seq((-2L, far1)))
          q.processAllAvailable()
          purchases.addData(Seq((-1L, far2))); clicks.addData(Seq((-2L, far2)))
          q.processAllAvailable()
        } finally q.stop()
      }
      s.table("x29_out").filter(col("user_id") >= 0)
    },
    Some("""
      WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
      SELECT coalesce(p.user_id, c.user_id) AS user_id,
             p.ts AS ts_p, c.ts AS ts_c
      FROM p FULL JOIN c
        ON p.user_id = c.user_id
       AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 24 HOUR"""))

  // ---------------------------------------------------------------- x30
  // STREAMING ANN SERVING from the PERSISTED index (the s17 lifecycle on a
  // live feed): the stream pins one model generation at start — zero
  // training jobs for its lifetime — each micro-batch of query vectors
  // searches the static corpus through the same projection+probe plan,
  // results append exactly-once (txn ledger) to a native Delta table.
  // Two batches replay the query set; per-row independence makes batch
  // boundaries invisible, so the oracle is the one deterministic batch
  // chain. Shares s17's index table — built once, served by BOTH paths.
  private val x30 = QueryDef(
    "x30_stream_ann_serve",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = Tables.load(s, dir, "embeddings")
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${FormatQueries.exportRoot(dir)}/ann_ivf_index"
      graft.operators.AnnIndex.ensureIvf(candidates, idx, kCells = 4, iters = 2)
      val out = new java.io.File(freshRoot(dir, "x30"), "serve_delta").getPath
      val in = MemoryStream[(Long, Seq[Float])](1)
      val writer = Streams.annServeStream(in.toDF().toDF("q_id", "q_vec"),
        candidates, idx, out, k = 6, nprobe = 2, appId = "x30-serve")
      withReplayConf(s, 1) { ck =>
        val q = writer.option("checkpointLocation", ck).start()
        try {
          val qs = e.filter(col("vec_id") < 5)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1)))
          in.addData(qs.filter(_._1 < 3).toSeq)
          q.processAllAvailable()
          in.addData(qs.filter(_._1 >= 3).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      Catalog.attach(s, "x30_serve_out", "delta", Map("files" -> out))
        .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${graft.operators.Similarity.ivfLearnedSql(6, kCells = 4, iters = 2, nprobe = 2)}"""))

  // ---------------------------------------------------------------- x31
  // STREAMING INCREMENTAL DEDUP GATE from the PERSISTED history index —
  // the d17 lifecycle on a live feed: arrivals gate row-locally against
  // the index's per-epoch bloom literals, the maybe sliver exact-verifies
  // stream-static against the persisted key table, survivors append
  // exactly-once. NO stream-side state, NO raw-history scan. The replay
  // exercises the documented append-pickup granularity: epoch 0 indexes
  // even-%4 docs, micro-batch 1 gates against it, then a NEW shard
  // (%4==2) appends MID-STREAM and micro-batch 2 is gated against both
  // epochs — so batch-2 rows duplicating the appended shard must drop
  // while identical batch-1 rows survived. The oracle knows no blooms, no
  // epochs, no batches: two plain NOT-IN selects against exactly the
  // epochs each batch saw.
  private val x31 = QueryDef(
    "x31_stream_dedup_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val d = Tables.load(s, dir, "documents")
      val root = freshRoot(dir, "x31")
      val idx = new java.io.File(root, "hist_index").getPath
      val out = new java.io.File(root, "gated_delta").getPath
      graft.operators.DedupIndex.build(d.filter(col("doc_id") % 4 === 0), "text", idx)
      def batchOf(m: Long, tag: String) =
        d.filter(col("doc_id") % 3 === m).select(col("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(col("text"), lit(s" $tag "),
              col("doc_id").cast("string"))).as("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val in = MemoryStream[(Long, String)](1)
      val writer = Streams.dedupGateStream(in.toDF().toDF("doc_id", "text"),
        idx, out, "text", "doc_id", appId = "x31-gate")
      withReplayConf(s, 1) { ck =>
        val q = writer.option("checkpointLocation", ck).start()
        try {
          in.addData(batchOf(0L, "fr1"))
          q.processAllAvailable()
          // the mid-stream shard commit the next batch must see
          graft.operators.DedupIndex.append(
            d.filter(col("doc_id") % 4 === 2), "text", idx)
          in.addData(batchOf(1L, "fr2"))
          q.processAllAvailable()
        } finally q.stop()
      }
      Catalog.attach(s, "x31_gated_out", "delta", Map("files" -> out))
        .select(col("doc_id"), col("h"))
    },
    Some("""
      WITH e0 AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
                  FROM documents WHERE doc_id % 4 = 0),
      e01 AS (SELECT DISTINCT md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS h
              FROM documents WHERE doc_id % 4 = 0 OR doc_id % 4 = 2),
      b1 AS (SELECT doc_id, md5(regexp_replace(lower(
                 CASE WHEN doc_id % 2 = 0 THEN text
                      ELSE text || ' fr1 ' || doc_id::VARCHAR END),
               '\s+', ' ', 'g')) AS h
             FROM documents WHERE doc_id % 3 = 0),
      b2 AS (SELECT doc_id, md5(regexp_replace(lower(
                 CASE WHEN doc_id % 2 = 0 THEN text
                      ELSE text || ' fr2 ' || doc_id::VARCHAR END),
               '\s+', ' ', 'g')) AS h
             FROM documents WHERE doc_id % 3 = 1)
      SELECT doc_id, h FROM b1 WHERE h NOT IN (SELECT h FROM e0)
      UNION ALL
      SELECT doc_id, h FROM b2 WHERE h NOT IN (SELECT h FROM e01)"""))

  // ---------------------------------------------------------------- x33
  // STREAMING FUZZY DEDUP GATE from the persisted band-key index — d18's
  // lifecycle on a live feed (the near-dup sibling of x31): two
  // micro-batches of arrivals band row-locally, OR-fold the 2-epoch
  // index's blooms, exact-verify the maybe sliver stream-static, marks
  // append exactly-once. Per-row independence makes batch boundaries
  // invisible, so the oracle is the single d16 band-chain replay over the
  // union of both batches (disjoint id sets by construction). Shares
  // d18's index table — built once, served by batch AND stream.
  private val x33 = QueryDef(
    "x33_stream_fuzzy_gate",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val d = Tables.load(s, dir, "documents")
      val idx = s"${FormatQueries.exportRoot(dir)}/dedup_fuzzy_index"
      if (graft.operators.DedupIndex.ensureFuzzy(
          d.filter(col("doc_id") % 2 === 0), "text", "doc_id", idx))
        graft.operators.DedupIndex.appendFuzzy(
          d.filter(col("doc_id") % 2 =!= 0), "text", "doc_id", idx)
      val out = new java.io.File(freshRoot(dir, "x33"), "marks_delta").getPath
      def batchOf(m: Long) =
        d.filter(col("doc_id") % 3 === m).select(col("doc_id"),
          when(col("doc_id") % 2 === 0, col("text"))
            .when(col("doc_id") % 4 === 1, concat(col("text"), lit(" extra")))
            .otherwise(concat(lit("fresh doc "), col("doc_id").cast("string"),
              lit(" payload alpha beta"))).as("text"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      val in = MemoryStream[(Long, String)](1)
      val writer = Streams.fuzzyGateStream(in.toDF().toDF("doc_id", "text"),
        idx, out, "text", "doc_id", appId = "x33-gate")
      withReplayConf(s, 1) { ck =>
        val q = writer.option("checkpointLocation", ck).start()
        try {
          in.addData(batchOf(0L))
          q.processAllAvailable()
          in.addData(batchOf(1L))
          q.processAllAvailable()
        } finally q.stop()
      }
      Catalog.attach(s, "x33_marks_out", "delta", Map("files" -> out))
        .select(col("doc_id"), col("n_hit_bands"), col("keep"))
    },
    Some(s"""
      WITH consts(seed, a, b) AS (VALUES ${graft.operators.Dedup.constsValuesSql}),
      batch AS (SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN text
                            WHEN doc_id % 4 = 1 THEN text || ' extra'
                            ELSE 'fresh doc ' || doc_id::VARCHAR || ' payload alpha beta'
                       END AS text
                FROM documents WHERE doc_id % 3 IN (0, 1)),
      ${PipelineQueries.bandChainCte("documents", "h_")},
      ${PipelineQueries.bandChainCte("batch", "n_")},
      hd AS (SELECT DISTINCT band, band_sig FROM h_bands),
      hits AS (SELECT n.doc_id, count(*) AS n_hit
               FROM n_bands n JOIN hd ON hd.band = n.band AND hd.band_sig = n.band_sig
               GROUP BY n.doc_id)
      SELECT b.doc_id, CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit_bands,
             coalesce(hits.n_hit, 0) = 0 AS keep
      FROM batch b LEFT JOIN hits ON hits.doc_id = b.doc_id"""))

  // ---------------------------------------------------------------- x32
  // STREAMING PQ SERVING from the persisted codebooks — the compressed-
  // domain sibling of x30: the stream pins one codebook generation at
  // start (zero training jobs for its lifetime), each micro-batch runs
  // the two-stage PQ/ADC-coarse + exact-cosine-rerank chain, results
  // append exactly-once. Deterministic training makes the persisted-model
  // serve bit-identical to the inline chain, so s10's replay SQL is the
  // oracle verbatim.
  private val x32 = QueryDef(
    "x32_stream_ann_serve_pq",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = Tables.load(s, dir, "embeddings")
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${FormatQueries.exportRoot(dir)}/ann_pq_index"
      graft.operators.AnnIndex.ensurePq(candidates, idx, m = 8, kCodes = 8,
        iters = 2, dim = 64)
      val out = new java.io.File(freshRoot(dir, "x32"), "serve_delta").getPath
      val in = MemoryStream[(Long, Seq[Float])](1)
      val writer = Streams.annServeStreamPq(in.toDF().toDF("q_id", "q_vec"),
        candidates, idx, out, k = 10, kCand = 30, dim = 64, appId = "x32-serve")
      withReplayConf(s, 1) { ck =>
        val q = writer.option("checkpointLocation", ck).start()
        try {
          val qs = e.filter(col("vec_id") < 5)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1)))
          in.addData(qs.filter(_._1 < 3).toSeq)
          q.processAllAvailable()
          in.addData(qs.filter(_._1 >= 3).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      Catalog.attach(s, "x32_serve_out", "delta", Map("files" -> out))
        .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${graft.operators.Similarity.pqRerankSql(10, kCand = 30)}"""))

  // ---------------------------------------------------------------- x34
  // STREAMING SQ SERVING from the persisted code table — the code-table
  // sibling of x32: the stream pins one TABLE generation at start (a
  // distributed frame, not driver literals — SQ codes are per-vector) and
  // never encodes the corpus (encodeRuns-pinned in AnnIndexSpec); each
  // micro-batch runs the scale-free coarse cosine over the stored codes +
  // exact rerank, results append exactly-once. The deterministic quantizer
  // makes the served search bit-identical to inline s11, whose replay SQL
  // is the oracle verbatim.
  private val x34 = QueryDef(
    "x34_stream_ann_serve_sq",
    (s, dir) => {
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val e = Tables.load(s, dir, "embeddings")
      val candidates = e.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val idx = s"${FormatQueries.exportRoot(dir)}/ann_sq_index"
      graft.operators.AnnIndex.ensureSq(candidates, idx)
      val out = new java.io.File(freshRoot(dir, "x34"), "serve_delta").getPath
      val in = MemoryStream[(Long, Seq[Float])](1)
      val writer = Streams.annServeStreamSq(in.toDF().toDF("q_id", "q_vec"),
        candidates, idx, out, k = 10, kCand = 30, appId = "x34-serve")
      withReplayConf(s, 1) { ck =>
        val q = writer.option("checkpointLocation", ck).start()
        try {
          val qs = e.filter(col("vec_id") < 5)
            .select(col("vec_id"), col("embedding")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1)))
          in.addData(qs.filter(_._1 < 3).toSeq)
          q.processAllAvailable()
          in.addData(qs.filter(_._1 >= 3).toSeq)
          q.processAllAvailable()
        } finally q.stop()
      }
      Catalog.attach(s, "x34_serve_out", "delta", Map("files" -> out))
        .select(col("q_id"), col("vec_id"), col("rank"), col("cos_sim"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
      c AS (SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id >= 5),
      ${graft.operators.Similarity.sqRerankSql(10, kCand = 30)}"""))

  val all: Seq[QueryDef] = Seq(x01, x02, x03, x04, x05, x06, x07, x08, x09, x10,
    x11, x12, x13, x14, x15, x16, x17, x18, x19, x20, x21, x22, x23, x24, x25,
    x26, x27, x28, x29, x30, x31, x32, x33, x34)
}
