package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

import graft.catalog.{Catalog, DeltaSink, MergeInsertClause, MergeMatchedClause, Sinks}
import graft.sources.DeltaNative

/** Native Delta writer → native Delta reader round-trips: protocol commit
  * JSON, true add.size, footer-derived stats that the log-backed FileIndex
  * then prunes with, partitioned layouts, append/overwrite, CDF tables,
  * and the loud-reject paths. */
class DeltaSinkSpec extends SparkSpec {

  import spark.implicits._

  private def readBack(path: String) =
    DeltaNative.read(spark, path, Map.empty)

  test("create: write → read round-trip, stats prune at plan time") {
    val root = tempDir("dsink_create").getPath
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "v", "x")
    // two files so skipping has something to drop
    Sinks.copyTo(df.repartitionByRange(2, col("id")), root, "delta")
    val back = readBack(root)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // add.stats written by the sink fuel the reader's plan-time skipping:
    // a predicate outside one file's [min,max] opens only the other file
    // (numFiles = files the EXECUTED scan actually touched)
    val pruned = back.filter(col("id") >= 3L)
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(3L))
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Some(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(s) => s }
    }
    val scan = findScan(pruned.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec in the executed plan"))
    assert(scan.metrics("numFiles").value === 1L,
      "sink-written add.stats should prune the out-of-range file at plan time")
  }

  test("append accumulates; schema and partitioning mismatches reject") {
    val root = tempDir("dsink_append").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "delta")
    assert(readBack(root).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
    val e = intercept[DeltaNative.DeltaReadException] {
      Sinks.copyTo(Seq((3, "c")).toDF("id", "v"), root, "delta") // int vs long
    }
    assert(e.getMessage.contains("does not match"))
    val e2 = intercept[DeltaNative.DeltaReadException] {
      Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "delta",
        Map("partition_by" -> "v"))
    }
    assert(e2.getMessage.contains("partitioning"))
  }

  test("overwrite tombstones every live file") {
    val root = tempDir("dsink_over").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta")
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "delta",
      Map("overwrite" -> "true"))
    assert(readBack(root).as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // history shows the tombstones
    val h = DeltaNative.history(spark, root).orderBy("version").collect()
    assert(h.last.getLong(5) >= 1L) // num_removed_files
  }

  test("partitioned create: log-served partition values, plan-time pruning, null partition") {
    val root = tempDir("dsink_part").getPath
    val df = Seq((1L, "us"), (2L, "eu"), (3L, null.asInstanceOf[String]))
      .toDF("id", "region")
    Sinks.copyTo(df, root, "delta", Map("partition_by" -> "region"))
    val back = readBack(root)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
      === Seq((1L, "us"), (2L, "eu"), (3L, null)))
    val pruned = back.filter(col("region") === "us")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(pruned.count() === 1L)
    // the NULL partition row is addressable
    assert(back.filter(col("region").isNull).select("id").as[Long].collect().toSeq
      === Seq(3L))
  }

  test("change_data_feed table: writes stream out as CDF inserts") {
    val root = tempDir("dsink_cdf").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta",
      Map("change_data_feed" -> "true"))
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "delta")
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "0"))
    assert(feed.select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      === Set((1L, "insert", 0L), (2L, "insert", 1L)))
    // re-stating the current property is a no-op (streaming sinks re-send
    // options every batch); CHANGING it post-creation rejects
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "delta",
      Map("change_data_feed" -> "true"))
    val e = intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((4L, "d")).toDF("id", "v"), root, "delta",
        Map("change_data_feed" -> "false"))
    }
    assert(e.getMessage.contains("creation"))
  }

  test("txn identifiers make commits idempotent (streaming exactly-once)") {
    val root = tempDir("dsink_txn").getPath
    val df = Seq((1L, "a")).toDF("id", "v")
    DeltaSink.write(df, root, Map.empty, txn = Some(("app1", 0L)))
    // batch re-delivery after a crash: same appId + version → silent no-op
    DeltaSink.write(df, root, Map.empty, txn = Some(("app1", 0L)))
    assert(readBack(root).count() === 1L)
    // a LATER batch of the same app lands
    DeltaSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty,
      txn = Some(("app1", 1L)))
    // a DIFFERENT app with a low version also lands (independent ledgers)
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty,
      txn = Some(("app2", 0L)))
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("streaming delta-commit sink: per-batch commits, append-only, app_id required") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempDir("dsink_stream").getPath
    val in = MemoryStream[(Long, String)](1)
    val q = graft.streaming.Streams.writeDeltaStream(
      in.toDF().toDF("id", "v"), root, "spec-app")
      .option("checkpointLocation", tempDir("dsink_stream_ck").getPath)
      .start()
    try {
      in.addData(Seq((1L, "a"), (2L, "b")))
      q.processAllAvailable()
      in.addData(Seq((3L, "c")))
      q.processAllAvailable()
    } finally q.stop()
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    // one commit per non-empty micro-batch, each carrying the txn ledger
    val h = graft.sources.DeltaNative.history(spark, root)
    assert(h.count() === 2L)
    // checkpoint_interval folds the log as the stream runs
    val root2 = tempDir("dsink_stream_cp").getPath
    val in2 = MemoryStream[(Long, String)](1)
    val q2 = graft.streaming.Streams.writeDeltaStream(
      in2.toDF().toDF("id", "v"), root2, "spec-app-cp")
      .option("checkpoint_interval", "2")
      .option("checkpointLocation", tempDir("dsink_stream_cp_ck").getPath)
      .start()
    try {
      in2.addData(Seq((1L, "a"))); q2.processAllAvailable()
      in2.addData(Seq((2L, "b"))); q2.processAllAvailable()
    } finally q2.stop()
    assert(new java.io.File(root2, "_delta_log/_last_checkpoint").exists())
    assert(readBack(root2).count() === 2L)
    // output-mode and option contracts reject loudly
    intercept[IllegalArgumentException] {
      in.toDF().toDF("id", "v").writeStream.format("delta-commit")
        .option("files", root)
        .option("checkpointLocation", tempDir("dsink_stream_ck2").getPath)
        .outputMode("append").start() // no app_id
    }
  }

  test("OPTIMIZE bin-packs small files per partition; snapshot and CDF unchanged") {
    val root = tempDir("dsink_opt").getPath
    Sinks.copyTo(Seq((1L, "us"), (2L, "eu")).toDF("id", "region"), root, "delta",
      Map("partition_by" -> "region", "change_data_feed" -> "true"))
    Sinks.copyTo(Seq((3L, "us"), (4L, "eu")).toDF("id", "region"), root, "delta",
      Map("partition_by" -> "region"))
    Sinks.copyTo(Seq((5L, "us")).toDF("id", "region"), root, "delta",
      Map("partition_by" -> "region"))
    val (removed, added) = DeltaSink.optimize(spark, root)
    // us had 3 small files, eu had 2 — both compact to one each
    assert(removed === 5 && added === 2)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L, 5L))
    // dataChange=false: the OPTIMIZE commit contributes NOTHING to the feed
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "0"))
    assert(feed.count() === 5L)
    assert(feed.select("_change_type").distinct().as[String].collect().toSeq
      === Seq("insert"))
    // idempotent second pass: nothing left to compact
    assert(DeltaSink.optimize(spark, root) === ((0, 0)))
  }

  test("VACUUM deletes only unreferenced, out-of-retention data files") {
    val root = tempDir("dsink_vac").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta")
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "delta",
      Map("overwrite" -> "true"))
    // inside retention: nothing deleted
    assert(DeltaSink.vacuum(spark, root) === 0)
    // zero retention: the overwritten files go; the live file stays
    assert(DeltaSink.vacuum(spark, root, retentionMs = 0L) >= 1)
    assert(readBack(root).as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // time travel to the vacuumed version now fails at scan, not silently
    val old = DeltaNative.read(spark, root, Map("version_as_of" -> "0"))
    intercept[Exception] { old.collect() }
  }

  test("VACUUM keeps live DV files and collects orphaned ones") {
    val root = tempDir("dsink_vac_dv").getPath + "/t"
    DeltaSink.write(spark.range(0, 3000).toDF("id").coalesce(1), root, Map.empty)
    assert(DeltaSink.deleteWhereDv(spark, root, "id < 2000") === 2000L)
    def dvFiles() = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("deletion_vector_")).toSeq
    assert(dvFiles().nonEmpty)
    // the DV is LIVE: zero-retention vacuum must not touch it
    DeltaSink.vacuum(spark, root, retentionMs = 0L)
    assert(dvFiles().nonEmpty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 1000L)
    // purge materializes survivors; the DV file is now orphaned and goes
    DeltaSink.purgeDeletionVectors(spark, root)
    assert(DeltaSink.vacuum(spark, root, retentionMs = 0L) >= 1)
    assert(dvFiles().isEmpty)
    assert(DeltaNative.read(spark, root, Map.empty).count() === 1000L)
  }

  test("MERGE conditional clauses: WHEN MATCHED AND <cond> DELETE, gated insert") {
    val root = tempDir("dsink_mrg_cond").getPath
    Sinks.copyTo(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal"),
      root, "delta", Map("change_data_feed" -> "true"))
    // CDC-shaped source: id=2 deletes, id=3 updates, id=9 inserts, and a
    // delete for an unseen key (id=8) must NOT insert
    val src = Seq(
      (2L, 0.0, "delete"), (3L, 33.0, "update_postimage"),
      (9L, 90.0, "insert"), (8L, 0.0, "delete"))
      .toDF("id", "bal", "_change_type")
    val (upd, ins) = DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(
        MergeMatchedClause(Some("s._change_type = 'delete'"), None),
        MergeMatchedClause(None, Some(Map("bal" -> "s.bal")))),
      insertClauses = Seq(MergeInsertClause(Some("s._change_type != 'delete'"), None)))
    assert((upd, ins) === ((1L, 1L)))
    assert(readBack(root).orderBy("id").as[(Long, Double)].collect().toSeq
      === Seq((1L, 10.0), (3L, 33.0), (9L, 90.0)))
    // the feed carries exact rows: delete for 2, pre+post for 3, insert for 9
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
    assert(feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((2L, "delete"), (3L, "update_preimage"),
        (3L, "update_postimage"), (9L, "insert")))
    // delete-only merge (no SET, no inserts) still commits the removals
    val src2 = Seq((1L, 0.0, "delete")).toDF("id", "bal", "_change_type")
    assert(DeltaSink.mergeInto(spark, root, src2, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(Some("s._change_type = 'delete'"), None)),
      insertClauses = Seq(MergeInsertClause(Some("false"), None))) === ((0L, 0L)))
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(3L, 9L))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync delete/update, CDF exact") {
    val root = tempDir("dsink_mrg_bysrc").getPath
    Sinks.copyTo(
      Seq((1L, 10.0, "live"), (2L, 20.0, "live"), (3L, 30.0, "live"),
        (4L, 40.0, "keep")).toDF("id", "bal", "st")
        .repartitionByRange(2, col("id")),
      root, "delta", Map("change_data_feed" -> "true"))
    // full sync: the feed now contains only id=2 (updated) and id=9 (new);
    // vanished rows delete UNLESS st='keep', which get stamped stale
    val src = Seq((2L, 22.0, "live"), (9L, 90.0, "live")).toDF("id", "bal", "st")
    val (upd, ins) = DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("bal" -> "s.bal")))),
      bySourceClauses = Seq(
        MergeMatchedClause(Some("t.st != 'keep'"), None),
        MergeMatchedClause(Some("t.st = 'keep'"), Some(Map("st" -> "'stale'")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert((upd, ins) === ((2L, 1L))) // 1 matched + 1 by-source update
    assert(readBack(root).orderBy("id").as[(Long, Double, String)].collect().toSeq
      === Seq((2L, 22.0, "live"), (4L, 40.0, "stale"), (9L, 90.0, "live")))
    // CDC: deletes for 1 and 3, pre/post for 2 (matched) and 4 (by source),
    // insert for 9 — nothing else
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
    assert(feed.select("id", "st", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
      === Set((1L, "live", "delete"), (3L, "live", "delete"),
        (2L, "live", "update_preimage"), (2L, "live", "update_postimage"),
        (4L, "keep", "update_preimage"), (4L, "stale", "update_postimage"),
        (9L, "live", "insert")))
    // unconditional by-source delete with an EMPTY source truncates
    val empty = Seq.empty[(Long, Double, String)].toDF("id", "bal", "st")
    val (u2, i2) = DeltaSink.mergeInto(spark, root, empty, "t.id = s.id",
      bySourceClauses = Seq(MergeMatchedClause(Some("true"), None)))
    assert(u2 === 0L && i2 === 0L)
    assert(readBack(root).count() === 0L)
  }

  test("MERGE BY SOURCE under row tracking: ids survive, versions re-default") {
    val root = tempDir("dsink_mrg_bysrc_rt").getPath
    Sinks.copyTo(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"),
      root, "delta", Map("row_tracking" -> "true"))
    val ids0 = DeltaNative.read(spark, root, Map("row_tracking" -> "true"))
      .select("id", "_row_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // source holds only id=2: 1 and 3 are by-source — 3 deletes, 1 updates
    val src = Seq((2L, 22L)).toDF("id", "v")
    DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      bySourceClauses = Seq(
        MergeMatchedClause(Some("t.id = 3"), None),
        MergeMatchedClause(Some("t.id = 1"), Some(Map("v" -> "t.v + 100")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    val after = DeltaNative.read(spark, root, Map("row_tracking" -> "true"))
      .select("id", "v", "_row_id", "_row_commit_version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(after.map(t => (t._1, t._2)).toSeq === Seq((1L, 110L), (2L, 22L)))
    // stable ids survive the rewrite; both updated rows' versions moved
    assert(after.map(t => (t._1, t._3)).toMap === ids0.filter(_._1 != 3L))
    assert(after.forall(_._4 === 1L))
  }

  test("OPTIMIZE ZORDER clusters both columns; skipping tightens on each") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScan(plan: SparkPlan): Option[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case f: FileSourceScanExec => Some(f)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(s) => s }
    }
    def filesFor(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      findScan(df.queryExecution.executedPlan).get.metrics("numFiles").value
    }
    val root = tempDir("dsink_zorder").getPath
    // two INDEPENDENT dimensions, written in an order that correlates with
    // NEITHER: every original file spans both full ranges, so pre-zorder
    // skipping on (a, b) prunes nothing
    val n = 4096
    val df = spark.range(n.toLong).toDF("i").selectExpr(
      "CAST(i % 64 AS BIGINT) AS a",
      "CAST((i * 37) % 64 AS BIGINT) AS b",
      "CAST(i AS DOUBLE) AS payload")
    Sinks.copyTo(df.repartition(8), root, "delta")
    val before = readBack(root)
    val totalFiles = filesFor(before.filter(org.apache.spark.sql.functions.lit(true)))
    assert(filesFor(before.filter(col("a") < 8)) === totalFiles,
      "pre-zorder: random layout should give no a-pruning")
    val (removed, added) = DeltaSink.optimizeZOrder(spark, root, Seq("a", "b"),
      targetFileRows = 512)
    assert(removed === 8 && added >= 4)
    val after = readBack(root)
    // snapshot-identical content
    assert(after.agg(org.apache.spark.sql.functions.sum("payload")).head.getDouble(0)
      === before.agg(org.apache.spark.sql.functions.sum("payload")).head.getDouble(0))
    assert(after.count() === n.toLong)
    // BOTH dimensions now prune
    assert(filesFor(after.filter(col("a") < 8)) < added,
      "post-zorder: a-range should skip files")
    assert(filesFor(after.filter(col("b") < 8)) < added,
      "post-zorder: b-range should skip files")
    // dataChange=false: a CDF-less follower diff sees no rewritten rows
    val h = DeltaNative.history(spark, root).orderBy("version").collect()
    assert(h.last.getString(2) === "OPTIMIZE")
    // partitioned tables reject loudly
    val proot = tempDir("dsink_zorder_part").getPath
    Sinks.copyTo(Seq((1L, "us")).toDF("id", "region"), proot, "delta",
      Map("partition_by" -> "region"))
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.optimizeZOrder(spark, proot, Seq("id"))
    }
    assert(e.getMessage.contains("partitioned"))
  }

  test("RESTORE flips the live set back to an old version in one commit") {
    val root = tempDir("dsink_restore").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta") // v0
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "delta")            // v1 append
    DeltaSink.deleteWhere(spark, root, "id = 1")                           // v2 rewrite
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(2L, 3L))
    val (added, removed) = DeltaSink.restore(spark, root, 0L)
    assert(added >= 1 && removed >= 1)
    // content equals version 0; history intact — v2's state still travels
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "2"))
      .select("id").as[Long].collect().sorted.toSeq === Seq(2L, 3L))
    val h = DeltaNative.history(spark, root).orderBy("version").collect()
    assert(h.last.getString(2) === "RESTORE")
    // restoring to the current state is a no-op (no new commit)
    assert(DeltaSink.restore(spark, root, 3L) === ((0, 0)))
    assert(DeltaNative.history(spark, root).count() === h.length.toLong)
    // a version that never existed rejects loudly
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.restore(spark, root, 42L)
    }
    assert(e.getMessage.contains("does not exist"))
    // below a folded checkpoint rejects loudly
    DeltaSink.checkpoint(spark, root)
    Sinks.copyTo(Seq((7L, "g")).toDF("id", "v"), root, "delta")
    val e2 = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.restore(spark, root, 1L)
    }
    assert(e2.getMessage.contains("checkpoint"))
  }

  test("DELETE FROM: copy-on-write rewrite of only the files holding matches") {
    val root = tempDir("dsink_del").getPath
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
    Sinks.copyTo(df.repartitionByRange(2, col("id")), root, "delta")
    // ids 1,2 in file A; 3,4 in file B — deleting id=4 must touch only B
    val n = DeltaSink.deleteWhere(spark, root, "id = 4")
    assert(n === 1L)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    val h = DeltaNative.history(spark, root).orderBy("version").collect()
    assert(h.last.getString(2) === "DELETE")
    assert(h.last.getLong(5) === 1L, "only the matching file tombstones")
    // no-match predicate: no commit at all
    assert(DeltaSink.deleteWhere(spark, root, "id = 99") === 0L)
    assert(DeltaNative.history(spark, root).count() === h.length.toLong)
  }

  test("DELETE on a partitioned CDF table emits exact row-level cdc deletes") {
    val root = tempDir("dsink_del_cdf").getPath
    Sinks.copyTo(
      Seq((1L, "us"), (2L, "us"), (3L, "eu")).toDF("id", "region"),
      root, "delta",
      Map("partition_by" -> "region", "change_data_feed" -> "true"))
    // predicate mixes a data column and a partition column
    val n = DeltaSink.deleteWhere(spark, root, "region = 'us' AND id >= 2")
    assert(n === 1L)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L))
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
    val ch = feed.select("id", "region", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // EXACTLY the deleted row — not whole-file noise: id=1 shares the us
    // file and must NOT appear in the feed
    assert(ch === Set((2L, "us", "delete")))
  }

  test("DELETE FROM routes through executePg on an attached delta table") {
    val root = tempDir("dsink_del_sql").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root, "delta")
    Catalog.attach(spark, "del_sql_t", "delta", Map("files" -> root))
    val r = graft.sqlapi.SqlApi.executePg(spark,
      "DELETE FROM del_sql_t WHERE id >= 2").head()
    assert(r.getLong(0) === 2L)
    // the attached view sees the post-delete snapshot without re-attaching
    assert(spark.table("del_sql_t").select("id").as[Long].collect().toSeq
      === Seq(1L))
    // non-delta attaches reject loudly
    val pq = tempDir("dsink_del_sql_pq")
    Seq((1L, "x")).toDF("id", "v").write.parquet(pq.getPath + "/t.parquet")
    Catalog.attach(spark, "del_sql_pq", "parquet",
      Map("files" -> (pq.getPath + "/t.parquet")))
    val e = intercept[IllegalArgumentException] {
      graft.sqlapi.SqlApi.executePg(spark, "DELETE FROM del_sql_pq WHERE id = 1")
    }
    assert(e.getMessage.contains("delta"))
  }

  test("INSERT INTO routes appends through the native writers") {
    val root = tempDir("dsink_ins_sql").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta")
    Catalog.attach(spark, "ins_sql_t", "delta", Map("files" -> root))
    // VALUES form: literal INTs cast to the table's BIGINT
    val r = graft.sqlapi.SqlApi.executePg(spark,
      "INSERT INTO ins_sql_t VALUES (2, 'b'), (3, 'c')").head()
    assert(r.getLong(0) === 2L)
    assert(spark.table("ins_sql_t").select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    // column-list form in a DIFFERENT order than the table
    graft.sqlapi.SqlApi.executePg(spark,
      "INSERT INTO ins_sql_t (v, id) VALUES ('d', 4)")
    assert(spark.table("ins_sql_t").filter(col("id") === 4L)
      .select("v").as[String].head() === "d")
    // SELECT form
    graft.sqlapi.SqlApi.executePg(spark,
      "INSERT INTO ins_sql_t SELECT id + 10, v FROM ins_sql_t WHERE id <= 2")
    assert(spark.table("ins_sql_t").count() === 6L)
    // iceberg attach appends through its native writer too
    val iroot = tempDir("dsink_ins_ice").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), iroot, "iceberg")
    Catalog.attach(spark, "ins_sql_ice", "iceberg", Map("files" -> iroot))
    graft.sqlapi.SqlApi.executePg(spark, "INSERT INTO ins_sql_ice VALUES (2, 'b')")
    assert(spark.table("ins_sql_ice").count() === 2L)
    // missing a table column rejects loudly (no column defaults)
    val e = intercept[IllegalArgumentException] {
      graft.sqlapi.SqlApi.executePg(spark, "INSERT INTO ins_sql_t (id) VALUES (9)")
    }
    assert(e.getMessage.contains("no column defaults"))
    // non-lakehouse attach rejects loudly
    val pq = tempDir("dsink_ins_pq")
    Seq((1L, "x")).toDF("id", "v").write.parquet(pq.getPath + "/t.parquet")
    Catalog.attach(spark, "ins_sql_pq", "parquet",
      Map("files" -> (pq.getPath + "/t.parquet")))
    val e2 = intercept[IllegalArgumentException] {
      graft.sqlapi.SqlApi.executePg(spark, "INSERT INTO ins_sql_pq VALUES (2, 'y')")
    }
    assert(e2.getMessage.contains("delta and"))
  }

  test("UPDATE: copy-on-write, SET sees the pre-update row, CDF pre/postimage") {
    val root = tempDir("dsink_upd").getPath
    Sinks.copyTo(Seq((1L, 10L, "us"), (2L, 20L, "us"), (3L, 30L, "eu"))
      .toDF("id", "amount", "region"),
      root, "delta",
      Map("partition_by" -> "region", "change_data_feed" -> "true"))
    // swap-style SET: both expressions see the PRE-update row
    val n = DeltaSink.updateWhere(spark, root, "region = 'us' AND id >= 2",
      Map("amount" -> "amount + id", "id" -> "id * 100"))
    assert(n === 1L)
    assert(readBack(root).select("id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (200L, 22L), (3L, 30L)))
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
    val ch = feed.select("id", "amount", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ch === Set((2L, 20L, "update_preimage"), (200L, 22L, "update_postimage")))
    // SQL route
    Catalog.attach(spark, "upd_sql_t", "delta", Map("files" -> root))
    val r = graft.sqlapi.SqlApi.executePg(spark,
      "UPDATE upd_sql_t SET amount = amount * 2 WHERE id = 1").head()
    assert(r.getLong(0) === 1L)
    assert(spark.table("upd_sql_t").filter(col("id") === 1L)
      .select("amount").as[Long].head() === 20L)
    // unknown SET column rejects loudly
    intercept[DeltaNative.DeltaReadException] {
      DeltaSink.updateWhere(spark, root, "id = 1", Map("bogus" -> "1"))
    }
  }

  test("UPDATE moving a partition value lands rows in the new partition") {
    val root = tempDir("dsink_upd_part").getPath
    Sinks.copyTo(Seq((1L, "us"), (2L, "eu")).toDF("id", "region"),
      root, "delta", Map("partition_by" -> "region"))
    assert(DeltaSink.updateWhere(spark, root, "id = 2",
      Map("region" -> "'us'")) === 1L)
    val back = readBack(root)
    assert(back.filter(col("region") === "us").select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
    assert(back.filter(col("region") === "eu").count() === 0L)
  }

  test("MERGE INTO: upsert — matched rows update, unmatched source inserts, CDF exact") {
    val root = tempDir("dsink_merge").getPath
    Sinks.copyTo(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "amount")
      .repartitionByRange(2, col("id")),
      root, "delta", Map("change_data_feed" -> "true"))
    // source updates id=3 (amount += s.amount) and inserts id=9
    val src = Seq((3L, 5L), (9L, 90L)).toDF("id", "amount")
    val (u, i) = DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("amount" -> "t.amount + s.amount")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(u === 1L && i === 1L)
    assert(readBack(root).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 10L), (2L, 20L), (3L, 35L), (9L, 90L)))
    // only the file holding id=3 tombstoned (id=1,2 file untouched)
    val h = DeltaNative.history(spark, root).orderBy("version").collect()
    assert(h.last.getString(2) === "MERGE" && h.last.getLong(5) === 1L)
    // CDF: exact update pre/post + insert rows, nothing for untouched ids
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "1"))
    val ch = feed.select("id", "amount", "_change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(ch === Set((3L, 30L, "update_preimage"), (3L, 35L, "update_postimage"),
      (9L, 90L, "insert")))
    // ambiguous source (two rows match one target) rejects loudly
    val dup = Seq((1L, 1L), (1L, 2L)).toDF("id", "amount")
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.mergeInto(spark, root, dup, "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("amount" -> "s.amount")))),
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert(e.getMessage.contains("ambiguous"))
    // insert-only merge (no matched clause): no rewrite, pure append
    val (u2, i2) = DeltaSink.mergeInto(spark, root,
      Seq((7L, 70L)).toDF("id", "amount"), "t.id = s.id",
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(u2 === 0L && i2 === 1L)
    assert(readBack(root).count() === 5L)
  }

  test("unknown options and foreign checkpoint layouts reject loudly") {
    val root = tempDir("dsink_rej").getPath
    intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta",
        Map("bogus" -> "1"))
    }
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta")
    // a MULTI-PART checkpoint is a connector-jar table for this writer
    java.nio.file.Files.writeString(
      new java.io.File(root, "_delta_log/_last_checkpoint").toPath,
      """{"version":0,"size":3,"parts":2}""")
    val e = intercept[DeltaNative.DeltaReadException] {
      Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "delta")
    }
    assert(e.getMessage.contains("checkpoint"))
    // a UUID/V2 checkpoint (named file missing) also rejects
    java.nio.file.Files.writeString(
      new java.io.File(root, "_delta_log/_last_checkpoint").toPath,
      """{"version":0,"size":3}""")
    val e2 = intercept[DeltaNative.DeltaReadException] {
      Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "delta")
    }
    assert(e2.getMessage.contains("checkpoint"))
  }

  test("checkpoint folds the log; writer AND reader continue past it") {
    val root = tempDir("dsink_cp").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "delta",
      Map("change_data_feed" -> "true"))
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "delta")
    DeltaSink.deleteWhere(spark, root, "id = 2")
    val cpV = DeltaSink.checkpoint(spark, root)
    assert(cpV === 2L)
    // the native READER resolves the snapshot through the checkpoint
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L))
    // the WRITER continues past its own checkpoint: append + DML + txn
    Sinks.copyTo(Seq((4L, "d")).toDF("id", "v"), root, "delta")
    assert(DeltaSink.updateWhere(spark, root, "id = 4",
      Map("v" -> "'dd'")) === 1L)
    assert(readBack(root).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (3L, "c"), (4L, "dd")))
    // txn ledger survives the fold: a pre-checkpoint batch id stays committed
    DeltaSink.write(Seq((5L, "e")).toDF("id", "v"), root, Map.empty,
      txn = Some(("cp-app", 0L)))
    DeltaSink.checkpoint(spark, root)
    DeltaSink.write(Seq((5L, "dup")).toDF("id", "v"), root, Map.empty,
      txn = Some(("cp-app", 0L))) // replay after fold → must no-op
    assert(readBack(root).filter(col("id") === 5L).count() === 1L)
  }
  test("v2Checkpoint table: CHECKPOINT writes a UUID manifest + sidecar; writer and reader continue") {
    val root = tempDir("dsink_v2cp").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    // upgrade the protocol to DEMAND v2Checkpoint (the shape an external
    // delta-spark `ALTER TABLE ... SET FEATURE` leaves behind)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}
        |{"commitInfo":{"operation":"UPGRADE PROTOCOL"}}
        |""".stripMargin)
    // appends still pass the writer gates (v2Checkpoint only constrains
    // the CHECKPOINT format, not commits)
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    val cpV = DeltaSink.checkpoint(spark, root)
    assert(cpV === 2L)
    val logDir = new java.io.File(s"$root/_delta_log")
    val names = logDir.listFiles().map(_.getName).toSeq
    // NO classic-named file — a V2 table's checkpoint is the UUID manifest
    assert(!names.contains("00000000000000000002.checkpoint.parquet"), names)
    val manifest = names.filter(n =>
      n.startsWith("00000000000000000002.checkpoint.") && n.endsWith(".parquet"))
    assert(manifest.size === 1, names)
    // file actions live in a _sidecars/ parquet, pointed at by the manifest
    val sidecarFiles = new java.io.File(logDir, "_sidecars").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(sidecarFiles.nonEmpty)
    val mf = spark.read.parquet(new java.io.File(logDir, manifest.head).getPath)
    assert(mf.schema.fieldNames.toSet ===
      Set("checkpointMetadata", "protocol", "metaData", "txn",
        "domainMetadata", "sidecar"))
    assert(mf.where("checkpointMetadata is not null")
      .selectExpr("checkpointMetadata.version").as[Long].head() === 2L)
    assert(mf.where("sidecar is not null").count() === 1L)
    // the native reader resolves the snapshot through the V2 checkpoint
    assert(readBack(root).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the WRITER replays its own V2 checkpoint (manifest + sidecar adds):
    // append, then DV-delete a PRE-checkpoint row — both need the sidecar's
    // add entries in the writer state
    DeltaSink.write(Seq((4L, "d")).toDF("id", "v"), root, Map.empty)
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 2") === 1L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L))
    // a second fold keeps the V2 shape and carries the DV through
    DeltaSink.checkpoint(spark, root)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L))
  }

  test("v2 checkpoint with JSON manifest: delta.checkpoint.writeFormat=json round-trips") {
    val root = tempDir("dsink_v2json").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}
        |{"commitInfo":{"operation":"UPGRADE PROTOCOL"}}
        |""".stripMargin)
    DeltaSink.setTableProperties(spark, root,
      Map("delta.checkpointPolicy" -> "v2",
        "delta.checkpoint.writeFormat" -> "json"))
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    val cpV = DeltaSink.checkpoint(spark, root)
    assert(cpV === 3L)
    val logDir = new java.io.File(s"$root/_delta_log")
    val names = logDir.listFiles().map(_.getName).toSeq
    // the manifest is the UUID-named JSON, not parquet, not classic
    assert(!names.exists(n => n.startsWith("00000000000000000003.checkpoint.")
      && n.endsWith(".parquet")), names)
    val manifest = names.filter(n =>
      n.startsWith("00000000000000000003.checkpoint.") && n.endsWith(".json"))
    assert(manifest.size === 1, names)
    val mLines = java.nio.file.Files.readAllLines(
      new java.io.File(logDir, manifest.head).toPath)
    assert(mLines.get(0).contains("checkpointMetadata"))
    assert(mLines.toString.contains("\"sidecar\""))
    // file actions live in a parquet sidecar either way
    assert(new java.io.File(logDir, "_sidecars").listFiles()
      .exists(_.getName.endsWith(".parquet")))
    // the native READER resolves the snapshot through the JSON manifest
    assert(readBack(root).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the WRITER replays its own JSON-manifest checkpoint: append + DML on
    // a pre-checkpoint row both need the sidecar's add entries
    DeltaSink.write(Seq((4L, "d")).toDF("id", "v"), root, Map.empty)
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 2") === 1L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L))
    // a second fold keeps the JSON shape and carries the DV through
    DeltaSink.checkpoint(spark, root)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L))
    // policy=v2 without the protocol feature rejects loudly at fold time
    val root2 = tempDir("dsink_v2json").getPath + "/t2"
    DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root2, Map.empty)
    DeltaSink.setTableProperties(spark, root2,
      Map("delta.checkpointPolicy" -> "v2"))
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.checkpoint(spark, root2)
    }
    assert(e.getMessage.contains("v2Checkpoint"))
  }

  test("domainMetadata survives CHECKPOINT: live domains carried, removed reconciled away") {
    val root = tempDir("dsink_domain").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    // an external writer left two domains + a protocol demanding the feature;
    // one domain is later removed (tombstone must reconcile away at fold)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["domainMetadata"]}}
        |{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"k\":\"v\"}","removed":false}}
        |{"domainMetadata":{"domain":"app.temp","configuration":"x","removed":false}}
        |""".stripMargin)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000002.json"),
      """{"domainMetadata":{"domain":"app.temp","removed":true}}
        |""".stripMargin)
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    val cpV = DeltaSink.checkpoint(spark, root)
    assert(cpV === 3L)
    val cp = spark.read.parquet(
      s"$root/_delta_log/00000000000000000003.checkpoint.parquet")
    val doms = cp.where("domainMetadata is not null")
      .selectExpr("domainMetadata.domain", "domainMetadata.configuration")
      .as[(String, String)].collect().toSet
    assert(doms === Set(("delta.clustering", "{\"k\":\"v\"}")))
    // the reader resolves through the fold; the writer replays the domain
    // column and a SECOND fold still carries it
    assert(readBack(root).count() === 3L)
    DeltaSink.write(Seq((4L, "d")).toDF("id", "v"), root, Map.empty)
    DeltaSink.checkpoint(spark, root)
    val cp2 = spark.read.parquet(
      s"$root/_delta_log/00000000000000000004.checkpoint.parquet")
    assert(cp2.where("domainMetadata is not null")
      .selectExpr("domainMetadata.domain").as[String].collect().toSeq
      === Seq("delta.clustering"))
    assert(readBack(root).count() === 4L)
  }

  test("inCommitTimestamp table: commits stamp a monotone ICT with commitInfo first") {
    val root = tempDir("dsink_ict").getPath + "/t"
    DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root, Map.empty)
    // an external writer enabled ICT (feature + property + provenance)
    val schema = Seq((1L, "a")).toDF("id", "v").schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      s"""{"commitInfo":{"timestamp":1700000000000,"inCommitTimestamp":9999999999999,"operation":"SET TBLPROPERTIES"}}
         |{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["inCommitTimestamp"]}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.enableInCommitTimestamps":"true"},"createdTime":0}}
         |""".stripMargin)
    DeltaSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty)
    assert(DeltaSink.deleteWhere(spark, root, "id = 1") === 1L)
    def commitLines(v: Long): Seq[String] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
        f"$root/_delta_log/$v%020d.json")).asScala.toSeq.filter(_.nonEmpty)
    def ictOf(v: Long): Long = {
      val first = commitLines(v).head
      // ICT spec: commitInfo MUST be the first action and carry the stamp
      assert(first.startsWith("{\"commitInfo\":"), first)
      val m = """"inCommitTimestamp":(\d+)""".r.findFirstMatchIn(first)
      m.getOrElse(fail(s"no inCommitTimestamp in $first")).group(1).toLong
    }
    // strictly monotone past the absurdly-future external stamp — the
    // floor is prev ICT + 1, not wall-clock
    val ict2 = ictOf(2); val ict3 = ictOf(3)
    assert(ict2 === 10000000000000L, "floor must be prev commit ICT + 1")
    assert(ict3 === ict2 + 1)
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("generated columns: computed when omitted, enforced when supplied and on UPDATE") {
    val root = tempDir("dsink_gen").getPath + "/t"
    DeltaSink.write(Seq((1L, "a", "A")).toDF("id", "v", "vu"), root, Map.empty)
    // external writer declares vu as GENERATED ALWAYS AS (upper(v))
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"id","type":"long","nullable":true,"metadata":{}},
        |{"name":"v","type":"string","nullable":true,"metadata":{}},
        |{"name":"vu","type":"string","nullable":true,"metadata":{"delta.generationExpression":"upper(v)"}}]}"""
        .stripMargin.replace("\n", "").replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["generatedColumns"]}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
         |""".stripMargin)
    // a frame OMITTING the generated column gets it computed
    DeltaSink.write(Seq((2L, "bee")).toDF("id", "v"), root, Map.empty)
    assert(readBack(root).orderBy("id").select("vu").as[String].collect().toSeq
      === Seq("A", "BEE"))
    // a frame SUPPLYING a correct value passes; a wrong one rejects whole
    DeltaSink.write(Seq((3L, "sea", "SEA")).toDF("id", "v", "vu"), root, Map.empty)
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((4L, "dee", "nope")).toDF("id", "v", "vu"), root, Map.empty)
    }
    assert(e.getMessage.contains("generated column"))
    // UPDATE that breaks the generation invariant rejects; one that keeps
    // it consistent lands
    val e2 = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.updateWhere(spark, root, "id = 2", Map("v" -> "'buzz'"))
    }
    assert(e2.getMessage.contains("generated column"))
    assert(DeltaSink.updateWhere(spark, root, "id = 2",
      Map("v" -> "'buzz'", "vu" -> "'BUZZ'")) === 1L)
    assert(readBack(root).orderBy("id").select("vu").as[String].collect().toSeq
      === Seq("A", "BUZZ", "SEA"))
  }

  test("identity columns: lattice generation, high-water mark advance, explicit-insert policy") {
    val root = tempDir("dsink_ident").getPath + "/t"
    DeltaSink.write(Seq((10L, "a")).toDF("rid", "v"), root, Map.empty)
    // external DDL: rid is GENERATED ALWAYS AS IDENTITY (START 10 STEP 10),
    // already at high-water mark 10 from the seed row
    val schemaJson =
      """{"type":"struct","fields":[
        |{"name":"rid","type":"long","nullable":true,"metadata":{"delta.identity.start":10,"delta.identity.step":10,"delta.identity.highWaterMark":10,"delta.identity.allowExplicitInsert":false}},
        |{"name":"v","type":"string","nullable":true,"metadata":{}}]}"""
        .stripMargin.replace("\n", "").replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json"),
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["identityColumns"]}}
         |{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
         |""".stripMargin)
    // omitted column → generated on the lattice past the mark
    DeltaSink.write(Seq("b", "c", "d").toDF("v"), root, Map.empty)
    assert(readBack(root).orderBy("rid").as[(Long, String)].collect().toSeq
      === Seq((10L, "a"), (20L, "b"), (30L, "c"), (40L, "d")))
    // the mark advanced in the log — the NEXT append continues past it
    DeltaSink.write(Seq("e").toDF("v"), root, Map.empty)
    assert(readBack(root).orderBy("rid").select("rid").as[Long].collect().toSeq
      === Seq(10L, 20L, 30L, 40L, 50L))
    // GENERATED ALWAYS: explicit values reject
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.write(Seq((99L, "x")).toDF("rid", "v"), root, Map.empty)
    }
    assert(e.getMessage.contains("GENERATED ALWAYS"))
    // flip to GENERATED BY DEFAULT (allowExplicitInsert=true): explicit
    // accepted, mark advances past the supplied extreme
    val schema2 = schemaJson.replace(
      "\\\"delta.identity.allowExplicitInsert\\\":false",
      "\\\"delta.identity.allowExplicitInsert\\\":true")
    val v = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/_delta_log"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json")).map(_.take(20).toLong).max + 1
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$root/_delta_log/$v%020d.json"),
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schema2","partitionColumns":[],"configuration":{},"createdTime":0}}
         |""".stripMargin)
    DeltaSink.write(Seq((1000L, "x")).toDF("rid", "v"), root, Map.empty)
    DeltaSink.write(Seq("y").toDF("v"), root, Map.empty)
    assert(readBack(root).orderBy("rid").select("rid").as[Long].collect().toSeq
      === Seq(10L, 20L, 30L, 40L, 50L, 1000L, 1010L))
  }

  test("partition-only DELETE is metadata-only: remove actions, zero data bytes move") {
    val root = tempDir("dsink_pdel").getPath + "/t"
    val df = Seq((1L, "2026-01-01", 1.0), (2L, "2026-01-01", 2.0),
      (3L, "2026-01-02", 3.0), (4L, "2026-01-03", 4.0)).toDF("id", "ds", "x")
    DeltaSink.write(df, root, Map("partition_by" -> "ds",
      "change_data_feed" -> "true"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().filterNot(_.getName.startsWith("_"))
        .toSeq.flatMap(walk) else Seq(f)
    val before = walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified).toMap
    val n = DeltaSink.deleteWhere(spark, root, "ds < '2026-01-02'")
    assert(n === 2L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(3L, 4L))
    // zero data bytes moved: same files, untouched (removes are log-only)
    val after = walk(new java.io.File(root))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified).toMap
    assert(after === before)
    val commit = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json"))
    assert(commit.contains("metadata-only-partition-drop"))
    assert(!commit.contains("\"add\""), "a metadata-only delete must add no files")
    // the CDF reader synthesizes whole-file delete rows from bare removes
    val feed = graft.sources.DeltaChanges.read(spark, root,
      Map("starting_version" -> "1", "ending_version" -> "1"))
    assert(feed.filter(col("_change_type") === "delete").count() === 2L)
    // time travel still serves the pre-delete state
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "0")).count() === 4L)
    // a mixed predicate takes the copy-on-write path and stays correct
    assert(DeltaSink.deleteWhere(spark, root, "ds = '2026-01-02' AND x > 2.5") === 1L)
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(4L))
  }

  test("delta_detail: one-row table summary, SQL-callable") {
    val root = tempDir("dsink_detail").getPath + "/t"
    DeltaSink.write(Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "v", "p")
      .repartition(2), root, Map("partition_by" -> "p",
      "change_data_feed" -> "true"))
    val d = DeltaSink.describeDetail(spark, root).collect().head
    assert(d.getString(0) === "delta")
    assert(d.getString(2) === root)
    assert(d.getSeq[String](3) === Seq("p"))
    assert(d.getLong(4) === 2L && d.getLong(5) > 0L)
    assert(d.getMap[String, String](6).get("delta.enableChangeDataFeed")
      .contains("true"))
    val viaSql = graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT numFiles, minWriterVersion FROM delta_detail('$root')").head()
    assert(viaSql.getLong(0) === 2L && viaSql.getInt(1) === 4)
  }

  test("OPTIMIZE WHERE bin-packs only the matching partition tuples") {
    val root = tempDir("dsink_optwhere").getPath + "/t"
    // two small files per ds partition
    (1 to 2).foreach { i =>
      DeltaSink.write(Seq((i.toLong, "2026-01-01"), (i + 10L, "2026-01-02"))
        .toDF("id", "ds"), root, Map("partition_by" -> "ds"))
    }
    val (r0, a0) = DeltaSink.optimize(spark, root,
      where = Some("ds = '2026-01-01'"))
    assert(r0 === 2 && a0 === 1, (r0, a0)) // only the 01-01 pair compacted
    assert(readBack(root).count() === 4L)
    // the other partition's two files are still separate → a second scoped
    // pass on it compacts exactly those
    val (r1, a1) = DeltaSink.optimize(spark, root,
      where = Some("ds = '2026-01-02'"))
    assert(r1 === 2 && a1 === 1)
    // a data-column predicate rejects loudly
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaSink.optimize(spark, root, where = Some("id = 1"))
    }
    assert(e.getMessage.contains("partition"))
    // SQL shape routes
    graft.catalog.Catalog.attach(spark, "optwhere_t", "delta", Map("files" -> root))
    val viaSql = graft.sqlapi.SqlApi.executePg(spark,
      "OPTIMIZE optwhere_t WHERE ds = '2026-01-01'").head()
    assert(viaSql.getInt(0) === 0) // already compact
  }

  test("multi-part classic checkpoint: parts split at partSize; both sides replay") {
    val root = tempDir("dsink_multicp_w").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2), root, Map.empty)
    DeltaSink.write(Seq((3L, "c"), (4L, "d")).toDF("id", "v").repartition(2), root, Map.empty)
    // 6 actions (protocol + metaData + 4 adds) at partSize=2 → 3 parts
    val cpV = DeltaSink.checkpoint(spark, root, partSize = 2)
    val names = new java.io.File(s"$root/_delta_log").listFiles().map(_.getName)
    assert(names.count(_.matches(f"$cpV%020d\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")) === 3,
      names.toSeq)
    assert(!names.contains(f"$cpV%020d.checkpoint.parquet"))
    val lc = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_delta_log/_last_checkpoint"))
    assert(lc.contains("\"parts\":3"), lc)
    // the native READER resolves through the parts; the WRITER continues
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L, 4L))
    DeltaSink.write(Seq((5L, "e")).toDF("id", "v"), root, Map.empty)
    assert(DeltaSink.deleteWhere(spark, root, "id = 1") === 1L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(2L, 3L, 4L, 5L))
  }

  test("DESCRIBE HISTORY and DESCRIBE DETAIL statement forms route by attach") {
    val root = tempDir("dsink_desc").getPath + "/t"
    DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root, Map.empty)
    DeltaSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty)
    graft.catalog.Catalog.attach(spark, "desc_t", "delta", Map("files" -> root))
    assert(graft.sqlapi.SqlApi.executePg(spark, "DESCRIBE HISTORY desc_t")
      .count() === 2L)
    val d = graft.sqlapi.SqlApi.executePg(spark, "DESCRIBE DETAIL desc_t").head()
    assert(d.getString(0) === "delta" && d.getLong(4) === 2L)
    // iceberg: HISTORY serves the snapshot log, DETAIL rejects naming the fns
    val iroot = tempDir("dsink_desc_i").getPath
    graft.catalog.Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), iroot, "iceberg")
    graft.catalog.Catalog.attach(spark, "desc_it", "iceberg", Map("files" -> iroot))
    assert(graft.sqlapi.SqlApi.executePg(spark, "DESC HISTORY desc_it")
      .count() === 1L)
    val e = intercept[IllegalArgumentException] {
      graft.sqlapi.SqlApi.executePg(spark, "DESCRIBE DETAIL desc_it")
    }
    assert(e.getMessage.contains("iceberg_snapshots"))
  }

  test("addColumn: log-only evolution; old files NULL; appends carry the column") {
    val root = tempDir("dsink_addcol").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    DeltaSink.addColumn(spark, root, "score", "double")
    val evolved = readBack(root)
    assert(evolved.columns.toSeq === Seq("id", "v", "score"))
    assert(evolved.filter(col("score").isNull).count() === 2L)
    // table id is preserved across the metaData rewrite
    // append AFTER evolution must supply the new schema...
    val e = intercept[Exception] {
      DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    }
    assert(e.getMessage.contains("does not match"))
    // ...and with it, lands normally
    DeltaSink.write(Seq((3L, "c", 9.5)).toDF("id", "v", "score")
      .select(col("id"), col("v"), col("score").cast("double")), root, Map.empty)
    val rows = readBack(root).orderBy("id").collect()
    assert(rows.length === 3 && rows(2).getDouble(2) == 9.5)
    assert(rows.take(2).forall(_.isNullAt(2)))
    // duplicate column rejects loudly
    val dup = intercept[Exception] { DeltaSink.addColumn(spark, root, "SCORE", "int") }
    assert(dup.getMessage.contains("already exists"))
  }
  test("deleteWhereDv: DV DELETE round-trips through the native reader; purge clears") {
    val root = tempDir("dsink_dv").getPath + "/t"
    DeltaSink.write(Seq(1L, 2L, 3L).toDF("id").withColumn("v", col("id").cast("string")),
      root, Map.empty)
    DeltaSink.write(Seq(4L, 5L, 6L).toDF("id").withColumn("v", col("id").cast("string")),
      root, Map.empty)
    val n = DeltaSink.deleteWhereDv(spark, root, "id % 2 = 0")
    assert(n === 3L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L))
    // small bitmaps inline into the log
    val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000002.json"))
    assert(log1.contains("\"deletionVector\"") && log1.contains("\"storageType\":\"i\""))
    // time travel to the pre-delete version still sees every row
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "1")).count() === 6L)
    // a second DV delete MERGES generations: the affected file's new
    // vector is old ∪ new (never stacked), untouched DV files keep theirs
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 1") === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(3L, 5L))
    // already-dead rows never re-match (the count would lie)
    assert(DeltaSink.deleteWhereDv(spark, root, "id <= 2") === 0L)
    // the merge commit's remove carries the OLD dv (reader reconciliation
    // keys on (path, dv)); time travel still serves every generation
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "2"))
      .orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 5L))
    // purge materializes the merged survivors; DML keeps working after
    val (files, dropped) = DeltaSink.purgeDeletionVectors(spark, root)
    assert(files >= 1 && dropped === 4L, (files, dropped))
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(3L, 5L))
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 3") === 1L)
    assert(readBack(root).collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("writer replay ingests MULTI-PART classic checkpoints") {
    val root = tempDir("dsink_multicp").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    DeltaSink.checkpoint(spark, root) // single-file checkpoint at v1
    val logDir = new java.io.File(s"$root/_delta_log")
    val single = new java.io.File(logDir, "00000000000000000001.checkpoint.parquet")
    // split it into the delta-spark multi-part layout, action kinds split
    // ACROSS parts (so the merged-schema union is exercised, not just the
    // multi-file glob): part 1 = protocol+metaData, part 2 = txn+add
    val cp = spark.read.parquet(single.getPath)
    def writePart(i: Int, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = new java.io.File(logDir, s"_part_tmp_$i")
      df.coalesce(1).write.parquet(tmp.getPath)
      val p = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(p.toPath,
        new java.io.File(logDir,
          f"00000000000000000001.checkpoint.$i%010d.${2}%010d.parquet").toPath)
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    writePart(1, cp.filter(col("protocol").isNotNull || col("metaData").isNotNull)
      .select("protocol", "metaData"))
    writePart(2, cp.filter(col("add").isNotNull).select("add"))
    assert(single.delete())
    // Hadoop LocalFS keeps .crc sidecars; rewriting the file behind its
    // back (as this fixture does) must drop the stale checksum too
    new java.io.File(logDir, "._last_checkpoint.crc").delete()
    new java.io.File(logDir, ".00000000000000000001.checkpoint.parquet.crc").delete()
    java.nio.file.Files.writeString(
      new java.io.File(logDir, "_last_checkpoint").toPath,
      """{"version":1,"size":4,"parts":2}""")
    // drop the folded commits — state must come from the parts alone
    Seq(0L, 1L).foreach(v => new java.io.File(logDir, f"$v%020d.json").delete())
    // a writer DML replays through the parts and commits on top
    assert(DeltaSink.deleteWhere(spark, root, "id = 2") === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L))
  }

  test("dropColumn/renameColumn: metadata-only via column-mapping upgrade") {
    val root = tempDir("dsink_cmap").getPath + "/t"
    DeltaSink.write(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "score"),
      root, Map.empty)
    // RENAME upgrades to mode=name: physicalName pins the on-disk name
    DeltaSink.renameColumn(spark, root, "v", "label")
    val renamed = readBack(root)
    assert(renamed.columns.toSeq === Seq("id", "label", "score"))
    assert(renamed.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("a", "b"))
    val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json"))
    assert(log1.contains("\"minReaderVersion\":2") && log1.contains("\"minWriterVersion\":5"),
      log1.take(300))
    assert(log1.contains("delta.columnMapping.mode"), log1.take(600))
    assert(log1.contains("delta.columnMapping.physicalName"), log1.take(600))
    // DROP leaves the bytes in place, the logical field disappears
    DeltaSink.dropColumn(spark, root, "label")
    val dropped = readBack(root)
    assert(dropped.columns.toSeq === Seq("id", "score"))
    assert(dropped.orderBy("id").collect().map(_.getDouble(1)).toSeq === Seq(1.5, 2.5))
    // time travel to the pre-evolution version still sees the original shape
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "0"))
      .columns.toSeq === Seq("id", "v", "score"))
    // ADD COLUMN on the mapped table assigns a fresh id + synthetic physicalName
    DeltaSink.addColumn(spark, root, "note", "string")
    val withNote = readBack(root)
    assert(withNote.columns.toSeq === Seq("id", "score", "note"))
    assert(withNote.select("note").collect().forall(_.isNullAt(0)))
    val log3 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000003.json"))
    assert(log3.contains("col-"), log3.take(600)) // synthetic physical name
    // guards: unknown column, duplicate target, partition column, last column
    assert(intercept[Exception] { DeltaSink.dropColumn(spark, root, "nope") }
      .getMessage.contains("does not exist"))
    assert(intercept[Exception] { DeltaSink.renameColumn(spark, root, "id", "score") }
      .getMessage.contains("already exists"))
    val proot = tempDir("dsink_cmap_part").getPath + "/t"
    DeltaSink.write(Seq((1L, "US")).toDF("id", "region"), proot,
      Map("partition_by" -> "region"))
    assert(intercept[Exception] { DeltaSink.dropColumn(spark, proot, "region") }
      .getMessage.contains("partition column"))
    val sroot = tempDir("dsink_cmap_single").getPath + "/t"
    DeltaSink.write(Seq(1L).toDF("id"), sroot, Map.empty)
    assert(intercept[Exception] { DeltaSink.dropColumn(spark, sroot, "id") }
      .getMessage.contains("only column"))
  }

  test("DELETE/UPDATE work on column-mapped tables, CDF and partitions included") {
    val root = tempDir("dsink_cmap_dml").getPath + "/t"
    DeltaSink.write(Seq((1L, 10.0, "US"), (2L, -20.0, "DE"), (3L, 30.0, "US"))
      .toDF("id", "bal", "region"), root,
      Map("partition_by" -> "region", "change_data_feed" -> "true"))
    DeltaSink.renameColumn(spark, root, "bal", "balance")
    // DELETE with a predicate on the RENAMED logical column: the scan reads
    // the physical `bal` files, the rewrite emits physical-named survivors
    assert(DeltaSink.deleteWhere(spark, root, "balance < 0") === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L))
    // UPDATE with SET on the logical name
    assert(DeltaSink.updateWhere(spark, root, "region = 'US'",
      Map("balance" -> "balance * 2")) === 2L)
    assert(readBack(root).orderBy("id").collect().map(_.getDouble(1)).toSeq ===
      Seq(20.0, 60.0))
    // survivors' parquet files carry the PHYSICAL column name `bal`
    val usFile = new java.io.File(s"$root/region=US").listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.lastModified)
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(usFile.getPath),
      spark.sessionState.newHadoopConf()))
    val names = try rdr.getFooter.getFileMetaData.getSchema.getFields
      .asScala.map(_.getName).toSet finally rdr.close()
    assert(names.contains("bal") && !names.contains("balance"), names)
    // the CDF reader serves the mapped change feed under LOGICAL names
    val feed = DeltaNative.read(spark, root,
      Map("read_change_feed" -> "true", "starting_version" -> "2"))
    val changes = feed.select("id", "balance", "_change_type").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(changes === Set((2L, -20.0, "delete"),
      (1L, 10.0, "update_preimage"), (1L, 20.0, "update_postimage"),
      (3L, 30.0, "update_preimage"), (3L, 60.0, "update_postimage")), changes)
    // MERGE on the mapped table: update by SET on the logical name, insert
    // a new row — both land physical-named
    val src = Seq((3L, 5.0, "US"), (9L, 90.0, "FR"))
      .toDF("id", "balance", "region")
    val (upd, ins) = DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("balance" -> "t.balance + s.balance")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert((upd, ins) === ((1L, 1L)))
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 20.0), (3L, 65.0), (9L, 90.0)))
  }

  test("DV DELETE/UPDATE + purge work on column-mapped tables") {
    val root = tempDir("dsink_cmap_dv").getPath + "/t"
    DeltaSink.write(Seq((1L, 10.0), (2L, -20.0), (3L, 30.0), (4L, -40.0))
      .toDF("id", "bal").coalesce(1), root, Map.empty)
    DeltaSink.renameColumn(spark, root, "bal", "balance")
    // DV DELETE with the predicate on the RENAMED logical column
    assert(DeltaSink.deleteWhereDv(spark, root, "balance < 0") === 2L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L))
    // purge materializes survivors under PHYSICAL names
    val (pf, dropped) = DeltaSink.purgeDeletionVectors(spark, root)
    assert(pf >= 1 && dropped === 2L)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 10.0), (3L, 30.0)))
    // DV UPDATE: SET on the logical name, images land physical-named
    assert(DeltaSink.updateWhereDv(spark, root, "id = 3",
      Map("balance" -> "balance + 5")) === 1L)
    assert(readBack(root).filter("id = 3").select("balance")
      .head().getDouble(0) === 35.0)
  }

  test("OPTIMIZE and ZORDER work on column-mapped tables") {
    val root = tempDir("dsink_cmap_opt").getPath + "/t"
    DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root, Map.empty)
    DeltaSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty)
    DeltaSink.renameColumn(spark, root, "v", "label")
    // bin-pack the two small files; snapshot content identical
    val (rm, add0) = DeltaSink.optimize(spark, root)
    assert(rm === 2 && add0 === 1)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // the compacted file's stats key by the PHYSICAL column name
    val log = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000003.json"))
    assert(log.contains("\\\"v\\\"") || log.contains("minValues"), log.take(500))
    assert(!log.contains("label\\\":"), log.take(800))
    // ZORDER on the LOGICAL column name clusters and round-trips
    DeltaSink.write(Seq((3L, "c"), (4L, "d")).toDF("id", "label"), root, Map.empty)
    val (zr, za) = DeltaSink.optimizeZOrder(spark, root, Seq("label", "id"))
    assert(zr >= 2 && za >= 1)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("append to a column-mapped table writes physical-named files") {
    val root = tempDir("dsink_cmap_append").getPath + "/t"
    DeltaSink.write(Seq((1L, "a", "US")).toDF("id", "v", "region"), root,
      Map("partition_by" -> "region"))
    DeltaSink.renameColumn(spark, root, "v", "label")
    // append under the NEW logical schema; data file must carry the OLD
    // physical name `v` and partition dirs the physical partition key
    DeltaSink.write(Seq((2L, "b", "DE")).toDF("id", "label", "region"), root,
      Map("partition_by" -> "region"))
    val rows = readBack(root).orderBy("id").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((1L, "a", "US"), (2L, "b", "DE")))
    // the appended parquet file's footer carries the PHYSICAL column name
    val newFile = new java.io.File(s"$root/region=DE").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(newFile.getPath),
      spark.sessionState.newHadoopConf()))
    val names = try rdr.getFooter.getFileMetaData.getSchema.getFields
      .asScala.map(_.getName).toSet finally rdr.close()
    assert(names.contains("v") && !names.contains("label"), names)
    // overwrite works under the mapping too
    DeltaSink.write(Seq((9L, "z", "FR")).toDF("id", "label", "region"), root,
      Map("partition_by" -> "region", "overwrite" -> "true"))
    assert(readBack(root).collect().map(_.getLong(0)).toSeq === Seq(9L))
  }

  test("deleteWhereDv: first DV commit upgrades the protocol and loosens stats bounds") {
    val root = tempDir("dsink_dvproto").getPath + "/t"
    DeltaSink.write(Seq(1L, 2L, 3L, 4L).toDF("id").coalesce(1), root, Map.empty)
    DeltaSink.deleteWhereDv(spark, root, "id = 2")
    val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json"))
    // the protocol action external compliant readers require before they
    // will honor deletionVector descriptors (PROTOCOL.md table features)
    assert(log1.contains("\"minReaderVersion\":3"), log1.take(400))
    assert(log1.contains("\"minWriterVersion\":7"), log1.take(400))
    assert(log1.contains("\"readerFeatures\":[\"deletionVectors\"]"), log1.take(400))
    assert(log1.contains("\"writerFeatures\":[\"appendOnly\",\"deletionVectors\",\"invariants\"]"),
      log1.take(400))
    // stats keep physical numRecords but flag tightBounds:false so external
    // engines stop serving COUNT(*) from them
    assert(log1.contains("tightBounds\\\":false") || log1.contains("\"tightBounds\":false"),
      log1.take(800))
    // our own reader still reads the upgraded table
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L))
    // the checkpoint mirrors the upgraded protocol row verbatim
    DeltaSink.checkpoint(spark, root)
    val cp = spark.read.parquet(s"$root/_delta_log/00000000000000000001.checkpoint.parquet")
    val proto = cp.filter(col("protocol").isNotNull)
      .selectExpr("protocol.minReaderVersion", "protocol.minWriterVersion",
        "protocol.readerFeatures", "protocol.writerFeatures").collect()
    assert(proto.length === 1)
    assert(proto(0).getInt(0) === 3 && proto(0).getInt(1) === 7)
    assert(proto(0).getSeq[String](2) === Seq("deletionVectors"))
    assert(proto(0).getSeq[String](3).contains("deletionVectors"))
    assert(readBack(root).count() === 3L)
  }

  test("deleteWhereDv: large bitmap lands in a DV file; checkpoint preserves DVs") {
    val root = tempDir("dsink_dvfile").getPath + "/t"
    DeltaSink.write(spark.range(0, 3000).toDF("id").coalesce(1), root, Map.empty)
    assert(DeltaSink.deleteWhereDv(spark, root, "id < 2000") === 2000L)
    val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json"))
    assert(log1.contains("\"storageType\":\"u\""), log1.take(400))
    assert(new java.io.File(root).listFiles().exists(_.getName.startsWith("deletion_vector_")))
    assert(readBack(root).count() === 1000L)
    // fold into a classic checkpoint, drop the commit JSONs it covers —
    // the DV must survive the fold (else deleted rows resurrect)
    DeltaSink.checkpoint(spark, root)
    Seq(0L, 1L).foreach { v =>
      new java.io.File(f"$root/_delta_log/$v%020d.json").delete()
    }
    assert(readBack(root).count() === 1000L)
    // the writer-side replay sees the DV through the checkpoint: a further
    // DV delete MERGES with it instead of resurrecting or double-counting
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 2500") === 1L)
    assert(readBack(root).count() === 999L)
  }

  test("deleteWhereDv guards: CDF tables reject loudly") {
    val root = tempDir("dsink_dvcdf").getPath + "/t"
    DeltaSink.write(Seq((1L, "a")).toDF("id", "v"), root,
      Map("change_data_feed" -> "true"))
    val e = intercept[Exception] { DeltaSink.deleteWhereDv(spark, root, "id = 1") }
    assert(e.getMessage.contains("change-data-feed"), e.getMessage)
  }
  test("updateWhereDv: DV update appends images, old positions go dead") {
    val root = tempDir("dsink_dvupd").getPath + "/t"
    DeltaSink.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
      .coalesce(1), root, Map.empty)
    val n = DeltaSink.updateWhereDv(spark, root, "id = 2", Map("bal" -> "bal * 10"))
    assert(n === 1L)
    val rows = readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 10.0), (2L, 200.0), (3L, 30.0)))
    // one commit: DV re-add + image add; no survivor rewriting
    val log1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/_delta_log/00000000000000000001.json"))
    assert(log1.contains("\"deletionVector\"") && log1.contains("\"operation\":\"UPDATE\""))
    // time travel shows the pre-update value
    assert(DeltaNative.read(spark, root, Map("version_as_of" -> "0"))
      .filter(col("id") === 2L).collect().head.getDouble(1) === 20.0)
    // purge materializes; content unchanged
    DeltaSink.purgeDeletionVectors(spark, root)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === rows)
  }

  /** A one-file table whose DV-delete commit lists `add(p, dv)` BEFORE
    * `remove(p)`: the protocol does not fix the order of a commit's
    * actions, and only the (path, DV id) key tells the two apart. */
  private def reorderedDvTable(prefix: String): String = {
    val root = tempDir(prefix).getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1),
      root, Map.empty)
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 2") === 1L)
    val commit = java.nio.file.Paths.get(s"$root/_delta_log/00000000000000000001.json")
    val lines = java.nio.file.Files.readAllLines(commit).asScala.toSeq.filter(_.nonEmpty)
    val (fileActions, rest) =
      lines.partition(l => l.startsWith("{\"add\"") || l.startsWith("{\"remove\""))
    assert(fileActions.map(_.startsWith("{\"remove\"")) === Seq(true, false))
    java.nio.file.Files.writeString(commit,
      (rest ++ fileActions.reverse).mkString("", "\n", "\n"))
    // the local file system would reject the rewrite against its old checksum
    java.nio.file.Files.deleteIfExists(
      commit.resolveSibling(s".${commit.getFileName}.crc"))
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    root
  }

  test("writers reconcile on (path, DV id): a DV commit in either order keeps its rows") {
    val cp = reorderedDvTable("dsink_dvorder_cp")
    DeltaSink.checkpoint(spark, cp)
    assert(readBack(cp).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    val ow = reorderedDvTable("dsink_dvorder_ow")
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), ow, "delta", Map("overwrite" -> "true"))
    assert(readBack(ow).select("id").as[Long].collect().toSeq === Seq(9L))
  }

  test("DV gates see the live set: after REORG PURGE, COW DELETE, MERGE and OPTIMIZE work") {
    val root = tempDir("dsink_dvpurge_dml").getPath + "/t"
    DeltaSink.write((1L to 8L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2),
      root, Map.empty)
    var model = (1L to 8L).map(i => i -> s"v$i").toMap
    def check(): Unit = assert(readBack(root).as[(Long, String)].collect().sorted.toSeq
      === model.toSeq.sorted)
    assert(DeltaSink.deleteWhereDv(spark, root, "id = 2") === 1L)
    model -= 2L; check()
    DeltaSink.purgeDeletionVectors(spark, root)
    check()
    assert(DeltaSink.deleteWhere(spark, root, "id = 3") === 1L)
    model -= 3L; check()
    val src = Seq((4L, "x"), (10L, "new")).toDF("id", "v")
    assert(DeltaSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      insertClauses = Seq(MergeInsertClause(None, None))) === ((1L, 1L)))
    model = model + (4L -> "x") + (10L -> "new"); check()
    val (compacted, written) = DeltaSink.optimize(spark, root, minFileBytes = Long.MaxValue)
    assert(compacted >= 2 && written >= 1, (compacted, written))
    check()
  }

  test("resolving a checkpointed table runs one Spark job per checkpoint frame") {
    val root = tempDir("dsink_cp_jobs").getPath + "/t"
    DeltaSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    DeltaSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty)
    DeltaSink.checkpoint(spark, root)
    DeltaSink.write(Seq((4L, "d")).toDF("id", "v"), root, Map.empty)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def jobsOf(body: => Unit): Int = {
      Thread.sleep(200) // earlier jobs' start events drain first
      jobs.set(0)
      body
      // let the async listener bus drain before reading the counter
      var waited = 0
      var last = -1
      while (waited < 2000 && last != jobs.get) { last = jobs.get; Thread.sleep(100); waited += 100 }
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(jobsOf { DeltaNative.read(spark, root, Map.empty) } === 1, "reader")
      assert(jobsOf {
        DeltaSink.setTableProperties(spark, root, Map("owner" -> "spec"))
      } === 1, "writer")
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
  }
}
