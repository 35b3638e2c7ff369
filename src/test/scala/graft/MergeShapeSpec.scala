package graft

import org.apache.spark.sql.functions._

import graft.catalog.{DeltaSink, MergeInsertClause, MergeMatchedClause, Sinks}
import graft.sources.DeltaNative
import graft.streaming.Streams

/** Focused pins for the r17 statement-shape optimizations: the MERGE
  * writers fuse their per-family stats into ONE job and run their
  * data/cdc writes concurrently, and the streaming static-index pins are
  * keyed per gate with release when the session's streams go idle. These
  * tests pin the OBSERVABLE contracts the restructure must preserve —
  * error precedence, commit atomicity on the error path, and pin
  * lifetime — not job counts (which AQE broadcast materialization makes
  * non-deterministic). */
class MergeShapeSpec extends SparkSpec {

  import spark.implicits._

  test("ambiguous MERGE still throws the cardinality error and writes NO commit") {
    val root = tempDir("mshape_amb").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta",
      Map("change_data_feed" -> "true"))
    val logDir = new java.io.File(root, "_delta_log")
    val before = logDir.list().count(_.endsWith(".json"))
    // two source rows match target id=1 — SQL MERGE cardinality violation;
    // the fused stats job also computes the insert count, but the
    // ambiguity throw must still win and nothing may land in the table
    val src = Seq((1L, "x"), (1L, "y"), (9L, "z")).toDF("id", "v")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert(e.getMessage.contains("ambiguous"))
    assert(logDir.list().count(_.endsWith(".json")) === before,
      "an ambiguous merge must not commit")
    // table content untouched
    assert(DeltaNative.read(spark, root, Map.empty).orderBy("id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("CDF conditional MERGE: concurrent data+cdc writes land in ONE commit") {
    val root = tempDir("mshape_cdf").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root,
      "delta", Map("change_data_feed" -> "true"))
    val src = Seq((1L, "upd"), (2L, "del"), (9L, "ins")).toDF("id", "op")
    val (u, i) = DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(
        MergeMatchedClause(Some("s.op = 'del'"), None),
        MergeMatchedClause(None, Some(Map("v" -> "s.op")))),
      insertClauses = Seq(MergeInsertClause(Some("s.op = 'ins'"),
        Some(Map("id" -> "s.id", "v" -> "s.op")))))
    assert((u, i) === (1L, 1L))
    assert(DeltaNative.read(spark, root, Map.empty).orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "upd"), (3L, "c"), (9L, "ins")))
    // the change feed carries exactly the statement's rows, all stamped
    // with ONE commit version (data + cdc fused into a single commit)
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
      .select(col("id"), col("_change_type"), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(feed.map(_._3).distinct.size === 1, s"one commit expected: $feed")
    assert(feed.map(t => (t._1, t._2)) === Seq(
      (1L, "update_postimage"), (1L, "update_preimage"),
      (2L, "delete"), (9L, "insert")).sorted)
  }

  test("plain upsert keeps its flat plans: no by-source branch, no CASE chain") {
    val root = tempDir("mshape_flat").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta")
    val src = Seq((1L, "x"), (9L, "z")).toDF("id", "v")
    // the upsertDeltaStream shape: one unconditional UPDATE SET plus one
    // identity INSERT. Its flat plans keep ~0.1 s of analysis and planning
    // off every plain MERGE (the r14 A/B in BASELINE.md)
    val ((u, i), plans) = org.apache.spark.graft.ActionPlans.capture(spark) {
      DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert((u, i) === (1L, 1L))
    // analyzed plans too: an always-false branch folds away in optimization
    // but still costs analysis and planning
    val text = plans.flatMap { case (_, qe) =>
      Seq(qe.analyzed.treeString, qe.optimizedPlan.treeString)
    }
    assert(text.exists(_.contains("__mc")), s"the statement's plans were not captured: $text")
    assert(!text.exists(_.contains("__bsc")), "a plain merge plans no by-source branch")
    // a CASE with two WHEN branches is a multi-clause classification chain
    val chain = "CASE WHEN (?:(?! END).)*? WHEN ".r
    text.flatMap(chain.findFirstIn).foreach(c => fail(s"multi-clause CASE chain: $c"))
  }

  test("static pins are keyed: a second gate build keeps the first gate's pins") {
    val a = Seq((1L, "aaa")).toDF("k", "t")
    val b = Seq((2L, "bbb")).toDF("k", "t")
    Streams.pinStaticKeyed("spec-gate-A", a)
    Streams.pinStaticKeyed("spec-gate-B", b)
    assert(a.storageLevel.useMemory, "gate A's pin must survive gate B's build")
    assert(b.storageLevel.useMemory)
    // same-key rebuild swaps: A's first generation is released
    val a2 = Seq((3L, "ccc")).toDF("k", "t")
    Streams.pinStaticKeyed("spec-gate-A", a2)
    assert(!a.storageLevel.useMemory, "same-key rebuild must release the old generation")
    assert(a2.storageLevel.useMemory && b.storageLevel.useMemory)
    Streams.releaseStaticPins()
    assert(!a2.storageLevel.useMemory && !b.storageLevel.useMemory)
  }

  test("pins release when the session's last active stream terminates") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val pinned = Seq((1L, "x")).toDF("k", "t")
    Streams.pinStaticKeyed("spec-gate-stream", pinned)
    assert(pinned.storageLevel.useMemory)
    val in = MemoryStream[Long](1)
    val ck = tempDir("mshape_ck").getPath
    val q = in.toDF().writeStream.format("noop")
      .option("checkpointLocation", ck).start()
    in.addData(1L, 2L)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    // the termination listener fires asynchronously on the listener bus
    val deadline = System.currentTimeMillis() + 20000
    while (pinned.storageLevel.useMemory && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(!pinned.storageLevel.useMemory,
      "pins must release once the session's streams go idle")
  }
}
