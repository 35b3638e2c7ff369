package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streaming dedup drops duplicates across micro-batches, state watermark-bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = Streams.dedupStream(
      in.toDF().toDF("id", "payload", "ts"), Seq("id"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "a", ts("2024-01-01 10:00:00")), (2L, "b", ts("2024-01-01 10:00:30")))
      q.processAllAvailable()
      in.addData((1L, "a-dup", ts("2024-01-01 10:01:00")), (3L, "c", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L)) // the id=1 duplicate is gone
    } finally q.stop()
  }

  test("content-hash stream dedup agrees with the batch d01 normalization") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val out = Streams.dedupDocsStream(
      in.toDF().toDF("doc_id", "text", "ts"), "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("docdedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, "Hello  World", ts("2024-01-01 10:00:00")),
        (2L, "hello world", ts("2024-01-01 10:00:10")), // same after normalize
        (3L, "different", ts("2024-01-01 10:00:20")))
      q.processAllAvailable()
      val ids = spark.table("docdedup_out").select("doc_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 3L))
    } finally q.stop()
  }

  test("windowed counts finalize with the watermark and drop late rows") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val out = Streams.windowedCounts(
      in.toDF().toDF("k", "ts"), "ts", "5 minutes", "1 minute",
      "n" -> count(lit(1)))
    val q = out.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      in.addData(("a", ts("2024-01-01 10:01:00")), ("b", ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      // watermark advances far past the first window → it finalizes
      in.addData(("c", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // this row is 20+ minutes late — dropped, does not reopen the window
      in.addData(("late", ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      in.addData(("d", ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("window.start").cast("string"), col("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows("2024-01-01 10:00:00") === 2L) // late row excluded
    } finally q.stop()
  }

  test("mapGroupsWithState keeps running per-key counts across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val out = Streams.runningKeyCounts(in.toDF().toDF("k", "ts"), "k", "ts")
    val q = out.writeStream.format("memory").queryName("counts_out")
      .outputMode("update").start()
    try {
      in.addData(("a", ts("2024-01-01 10:00:00")), ("b", ts("2024-01-01 10:00:00")),
        ("a", ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 10:01:00")), ("c", ts("2024-01-01 10:01:00")))
      q.processAllAvailable()
      // update mode: last emission per key wins
      val last = spark.table("counts_out").groupBy("k")
        .agg(max("n_seen").as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(last === Map("a" -> 3L, "b" -> 1L, "c" -> 1L)) // state crossed batches
    } finally q.stop()
  }

  test("runningKeyCounts state expires once the watermark passes the TTL") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Timestamp)]
    val out = Streams.runningKeyCounts(in.toDF().toDF("k", "ts"), "k", "ts",
      delay = "0 seconds", ttl = "10 minutes")
    val q = out.writeStream.format("memory").queryName("ttl_out")
      .outputMode("update").start()
    try {
      in.addData(("a", ts("2024-01-01 10:00:00"))) // a expires at 10:10 event time
      q.processAllAvailable()
      in.addData(("b", ts("2024-01-01 10:30:00"))) // advances watermark to 10:30
      q.processAllAvailable()
      in.addData(("c", ts("2024-01-01 11:00:00"))) // batch runs with wm 10:30 → a fires
      q.processAllAvailable()
      in.addData(("a", ts("2024-01-01 11:01:00"))) // state reclaimed → restarts at 1
      q.processAllAvailable()
      val aCounts = spark.table("ttl_out").filter(col("k") === "a")
        .select("n_seen").collect().map(_.getLong(0)).toSeq
      assert(aCounts.count(_ == 1L) >= 2, s"expected initial + restarted count, got $aCounts")
      assert(aCounts.forall(_ === 1L),
        s"expected expired state to restart counts at 1, got $aCounts")
    } finally q.stop()
  }

  test("interval join matches clicks within the window; state is time-bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val out = Streams.intervalJoin(
      imps.toDF().toDF("user_id", "imp_ts"),
      clicks.toDF().toDF("user_id", "click_ts"),
      "user_id", "imp_ts", "click_ts", within = "10 minutes", delay = "1 minute")
    val q = out.writeStream.format("memory").queryName("ij_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00")),  // within 10 min → joins
        (2L, ts("2024-01-01 10:20:00")))  // 20 min later → outside window
      q.processAllAvailable()
      // advance both watermarks; user 9's click is ALSO outside its window
      imps.addData((9L, ts("2024-01-01 11:00:00")))
      clicks.addData((9L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val rows = spark.table("ij_out").select("user_id").collect().map(_.getLong(0)).sorted
      assert(rows.toSeq === Seq(1L)) // only the in-window click joins
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched rows with nulls after expiry") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val out = Streams.intervalJoin(
      imps.toDF().toDF("user_id", "imp_ts"),
      clicks.toDF().toDF("user_id", "click_ts"),
      "user_id", "imp_ts", "click_ts", within = "10 minutes", delay = "0 seconds",
      joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("loj_out")
      .outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      clicks.addData((1L, ts("2024-01-01 10:05:00"))) // user 1 clicks, user 2 never
      q.processAllAvailable()
      // two sentinel rounds (distinct keys so they cannot join): round 1
      // advances the watermark past user 2's interval end, round 2's data
      // batch evicts it as a null-extended row
      imps.addData((-1L, ts("2024-01-01 12:00:00")))
      clicks.addData((-2L, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      imps.addData((-1L, ts("2024-01-01 12:00:01")))
      clicks.addData((-2L, ts("2024-01-01 12:00:01")))
      q.processAllAvailable()
      val rows = spark.table("loj_out").filter($"user_id" >= 0)
        .collect().map(r => (r.getLong(0), r.isNullAt(2))).sortBy(_._1)
      // user 1: matched pair (click ts present); user 2: null right side
      assert(rows.toSeq === Seq((1L, false), (2L, true)))
    } finally q.stop()
  }

  test("transforms are source-agnostic: file source feeds the same dedup") {
    // the module claims readStream-source agnosticism — prove it on a real
    // file source, not just MemoryStream
    import org.apache.spark.sql.types._
    val dir = tempDir("stream_src")
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("ts", TimestampType)))
    def write(name: String, rows: String): Unit = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.writeString(f.toPath, rows)
    }
    write("b1.json",
      """{"k":"a","ts":"2024-01-01T10:00:00.000Z"}
        |{"k":"a","ts":"2024-01-01T10:00:30.000Z"}
        |{"k":"b","ts":"2024-01-01T10:01:00.000Z"}
        |""".stripMargin)
    val in = spark.readStream.schema(schema).json(dir.getPath)
    val out = Streams.dedupStream(in, Seq("k"), "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("file_src_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_src_out").select("k").collect()
        .map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
      // a later file with another duplicate within the watermark still dedups
      write("b2.json", """{"k":"a","ts":"2024-01-01T10:02:00.000Z"}""" + "\n")
      q.processAllAvailable()
      assert(spark.table("file_src_out").filter("k = 'a'").count() === 1)
    } finally q.stop()
  }

  test("gap sessionization closes sessions after the gap") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = Streams.sessionize(
      in.toDF().toDF("user_id", "ts"), "user_id", "ts", "5 minutes", "1 minute")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      in.addData(
        (7L, ts("2024-01-01 10:00:00")), (7L, ts("2024-01-01 10:02:00")),
        (7L, ts("2024-01-01 10:20:00"))) // > 5 min gap → second session
      q.processAllAvailable()
      in.addData((7L, ts("2024-01-01 11:00:00"))) // advance watermark, close all
      q.processAllAvailable()
      val sessions = spark.table("sess_out").select("n_events").collect().map(_.getLong(0)).sorted
      assert(sessions.toSeq === Seq(1L, 2L)) // [10:00,10:02] and [10:20]
    } finally q.stop()
  }

  test("session_window boundary: an event exactly gap after the previous MERGES") {
    // x25's oracle replays sessions with `break strictly > gap` and
    // `end = last + gap`; this pins Spark's session_window to those exact
    // semantics so an upstream boundary flip fails here, not as an oracle
    // hash mismatch
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = Streams.sessionCounts(
      in.toDF().toDF("user_id", "ts"), "user_id", "ts", "30 minutes", "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessw_out")
      .outputMode("append").start()
    try {
      in.addData(
        (1L, ts("2024-01-01 10:00:00")),
        (1L, ts("2024-01-01 10:30:00")),   // exactly gap after → same session
        (1L, ts("2024-01-01 11:00:00.001"))) // 1 ms past gap → new session
      q.processAllAvailable()
      in.addData((9L, ts("2024-01-02 10:00:00"))) // sentinel closes key 1
      q.processAllAvailable()
      in.addData((9L, ts("2024-01-02 10:00:01")))
      q.processAllAvailable()
      val got = spark.table("sessw_out").filter(col("user_id") === 1L)
        .select("session_start", "session_end", "n_events").collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString, r.getLong(2)))
        .sortBy(_._1)
      assert(got.toSeq === Seq(
        ("2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 2L),
        ("2024-01-01 11:00:00.001", "2024-01-01 11:30:00.001", 1L)))
    } finally q.stop()
  }

  test("transformWithState: per-key batch + cumulative counts across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[Long]
      val out = Streams.batchCumCounts(in.toDF().toDF("k"), "k")
      val q = out.writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      try {
        in.addData(1L, 1L, 2L); q.processAllAvailable()
        in.addData(1L, 3L); q.processAllAvailable()
        val got = spark.table("tws_out").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
        assert(got.toSeq === Seq((1L, 1L, 3L), (1L, 2L, 2L), (2L, 1L, 1L), (3L, 1L, 1L)))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
  }

  test("keyless replication rejects NULL-keyed change rows instead of collapsing them") {
    // a MERGE-maintained source emits insert cdc rows with _row_id=null
    // (ids are assigned to the data files at commit, the cdc row has no
    // position in them); keyed on _row_id, the batch dedup would silently
    // keep ONE of them — the apply must fail loudly instead
    import spark.implicits._
    val dir = tempDir("keyless_guard")
    val rootA = new java.io.File(dir, "a").getPath
    val rootB = new java.io.File(dir, "b").getPath
    val ck = new java.io.File(dir, "ck").getPath
    graft.catalog.DeltaSink.write(
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1),
      rootA, Map("row_tracking" -> "true", "change_data_feed" -> "true"))
    val q = Streams.applyDeltaChanges(spark, rootA, rootB, Seq("_row_id"),
      options = Map("row_tracking" -> "true"))
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable() // bootstrap from the snapshot batch — ids real
      graft.catalog.DeltaSink.mergeInto(spark, rootA,
        Seq((2L, 99L), (7L, 70L), (8L, 80L)).toDF("k", "v"), "t.k = s.k",
        matchedClauses = Seq(graft.catalog.MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
        insertClauses = Seq(graft.catalog.MergeInsertClause(None, None)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert((e.getMessage +: chain(e.getCause)).exists(m =>
        m != null && m.contains("NULL key")),
        s"expected the NULL-key guard, got: ${e.getMessage}")
    } finally q.stop()
  }

  test("streaming dedup gate: zero raw-history passes, mid-stream append picked up next batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("sgate").getAbsolutePath
    val hist0 = Seq((10L, "alpha beta"), (11L, "gamma delta")).toDF("doc_id", "text")
    graft.operators.DedupIndex.build(hist0, "text", s"$dir/idx")
    val in = MemoryStream[(Long, String)]
    val writer = Streams.dedupGateStream(in.toDF().toDF("doc_id", "text"),
      s"$dir/idx", s"$dir/out", "text", "doc_id", appId = "sgate-spec")
    val q = writer.option("checkpointLocation", s"$dir/ck").start()
    try {
      val before = graft.operators.DedupIndex.historyPasses.get()
      // batch 1: one dup of epoch 0, one fresh, one NOT-YET-indexed text
      in.addData((1L, "Alpha  Beta"), (2L, "fresh one"), (3L, "epsilon zeta"))
      q.processAllAvailable()
      assert(graft.operators.DedupIndex.historyPasses.get() === before,
        "the streaming gate scanned raw history")
      // mid-stream shard commit: "epsilon zeta" becomes history
      graft.operators.DedupIndex.append(
        Seq((12L, "epsilon zeta")).toDF("doc_id", "text"), "text", s"$dir/idx")
      // batch 2: the same text must now DROP; a fresh row survives
      in.addData((4L, "epsilon zeta"), (5L, "fresh two"))
      q.processAllAvailable()
    } finally q.stop()
    val out = graft.sources.DeltaNative.read(spark, s"$dir/out", Map.empty)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(out === Seq(2L, 3L, 5L))
  }

  test("streaming PQ serving pins one codebook generation, zero training on the stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val candidates = e.filter(col("vec_id") >= 5).select(col("vec_id"), col("embedding"))
    val dir = tempDir("spq").getAbsolutePath
    graft.operators.AnnIndex.ensurePq(candidates, s"$dir/idx", m = 8, kCodes = 8,
      iters = 2, dim = 64)
    val inline = graft.operators.Similarity
      .pqRerankTopK(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec")),
        candidates, k = 5, kCand = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val in = MemoryStream[(Long, Seq[Float])]
    val writer = Streams.annServeStreamPq(in.toDF().toDF("q_id", "q_vec"),
      candidates, s"$dir/idx", s"$dir/out", k = 5, kCand = 20, dim = 64,
      appId = "spq-spec")
    val before = graft.operators.Similarity.trainingRuns.get()
    val q = writer.option("checkpointLocation", s"$dir/ck").start()
    try {
      val qs = e.filter(col("vec_id") < 5).select(col("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      in.addData(qs.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.operators.Similarity.trainingRuns.get() === before,
      "the PQ serving stream ran a training job")
    val served = graft.sources.DeltaNative.read(spark, s"$dir/out", Map.empty)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rank"))).toSeq.sorted
    assert(served === inline)
  }
}
