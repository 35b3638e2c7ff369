package graft

import org.apache.spark.sql.functions._

import graft.catalog.{DeltaSink, MergeInsertClause, MergeMatchedClause}
import graft.sources.DeltaNative

/** PROTOCOL.md "Row Tracking" on the native Delta writer + reader:
  * creation via the `row_tracking` option (v7 protocol with rowTracking +
  * domainMetadata, enableRowTracking + materialized column names in the
  * configuration), fresh non-overlapping baseRowId ranges with the
  * rowIdHighWaterMark domain advancing per commit, `row_tracking=true`
  * reads serving `_row_id`/`_row_commit_version`, and STABLE ids across
  * every rewrite shape: OPTIMIZE bin-pack, ZORDER, copy-on-write
  * UPDATE/DELETE, DV delete, MERGE, checkpoint fold. The reference has no
  * row tracking (DuckDB delta_scan reads only); this follows delta.io
  * PROTOCOL.md directly. */
class DeltaRowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(dir: java.io.File): String = {
    val root = new java.io.File(dir, "t").getPath
    // two appends, one file each (coalesce via single partition), sorted:
    // ids 0..4 land on even keys, 5..9 on odd keys — fully deterministic
    DeltaSink.write(
      Seq(0L, 2L, 4L, 6L, 8L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"),
      root, Map("row_tracking" -> "true"))
    DeltaSink.write(
      Seq(1L, 3L, 5L, 7L, 9L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"),
      root, Map.empty)
    root
  }

  private def rowIds(root: String): Map[Long, (Long, Long)] =
    DeltaNative.read(spark, root, Map("row_tracking" -> "true"))
      .select(col("k"), col("_row_id"), col("_row_commit_version"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("creation option writes v7 protocol, config, fresh ranges, hwm domain") {
    val root = mkTable(tempDir("rt"))
    val log = new java.io.File(root, "_delta_log")
    val v0 = java.nio.file.Files.readString(
      new java.io.File(log, f"${0L}%020d.json").toPath)
    assert(v0.contains("\"minWriterVersion\":7"))
    assert(v0.contains("rowTracking") && v0.contains("domainMetadata"))
    assert(v0.contains("delta.enableRowTracking"))
    assert(v0.contains("delta.rowTracking.materializedRowIdColumnName"))
    assert(v0.contains("\"baseRowId\":0"))
    assert(v0.contains("\"defaultRowCommitVersion\":0"))
    assert(v0.contains("rowIdHighWaterMark") && v0.contains("\\\"rowIdHighWaterMark\\\":4"))
    val v1 = java.nio.file.Files.readString(
      new java.io.File(log, f"${1L}%020d.json").toPath)
    assert(v1.contains("\"baseRowId\":5"), "second commit continues above the hwm")
    assert(v1.contains("\"defaultRowCommitVersion\":1"))
  }

  test("row_tracking read serves default ids in append order") {
    val root = mkTable(tempDir("rt"))
    val ids = rowIds(root)
    assert(ids === Map(
      0L -> ((0L, 0L)), 2L -> ((1L, 0L)), 4L -> ((2L, 0L)), 6L -> ((3L, 0L)), 8L -> ((4L, 0L)),
      1L -> ((5L, 1L)), 3L -> ((6L, 1L)), 5L -> ((7L, 1L)), 7L -> ((8L, 1L)), 9L -> ((9L, 1L))))
  }

  test("OPTIMIZE bin-pack preserves stable ids via materialized columns") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    val (removed, added) = DeltaSink.optimize(spark, root)
    assert(removed === 2 && added === 1)
    assert(rowIds(root) === before, "ids survive the rows moving files")
    // the compacted add still carries a FRESH non-overlapping base range
    val v2 = java.nio.file.Files.readString(
      new java.io.File(root, f"_delta_log/${2L}%020d.json").toPath)
    assert(v2.contains("\"baseRowId\":10"))
    assert(v2.contains("\\\"rowIdHighWaterMark\\\":19"))
  }

  test("ZORDER preserves stable ids") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    DeltaSink.optimizeZOrder(spark, root, Seq("v"), targetFileRows = 3)
    assert(rowIds(root) === before)
  }

  test("copy-on-write UPDATE keeps ids, re-defaults commit version; DELETE drops ids") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    assert(DeltaSink.updateWhere(spark, root, "k = 3", Map("v" -> "999")) === 1L)
    val after = rowIds(root)
    assert(after(3L)._1 === before(3L)._1, "updated row keeps its id")
    assert(after(3L)._2 === 2L, "updated row's commit version moves to the UPDATE commit")
    // carried rows of the rewritten file keep id AND original version
    assert((after - 3L) === (before - 3L))
    assert(DeltaSink.deleteWhere(spark, root, "k = 5") === 1L)
    val afterDel = rowIds(root)
    assert(!afterDel.contains(5L))
    assert((afterDel - 3L) === (after - 3L - 5L))
  }

  test("DV delete preserves surviving ids without rewriting") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    assert(DeltaSink.deleteWhereDv(spark, root, "k = 2") === 1L)
    assert(rowIds(root) === before - 2L, "survivors keep position-derived ids")
    // purge (REORG) rewrites the DV'd file — ids still stable
    DeltaSink.purgeDeletionVectors(spark, root)
    assert(rowIds(root) === before - 2L)
  }

  test("MERGE keeps carried+updated ids, assigns fresh to inserts") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    val src = Seq((4L, 111L), (100L, 222L)).toDF("k", "v")
    val (up, ins) = DeltaSink.mergeInto(spark, root, src, "t.k = s.k",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(up === 1L && ins === 1L)
    val after = rowIds(root)
    assert(after(4L)._1 === before(4L)._1 && after(4L)._2 === 2L)
    assert((after - 4L - 100L) === (before - 4L))
    // the rewritten 5-row file allocates 10..14 (fresh range even though
    // its rows read from materialized ids); the insert file starts at 15
    assert(after(100L)._1 === 15L, "insert allocates above the hwm")
  }

  test("MERGE rewriting two files into one keeps every carried id; inserts stay unfused") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    // 4 and 5 sit in different files, so both files rewrite
    val src = Seq((4L, 111L), (5L, 222L), (100L, 1L), (101L, 2L)).toDF("k", "v")
    val (up, ins) = DeltaSink.mergeInto(spark, root, src, "t.k = s.k",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(up === 2L && ins === 2L)
    val after = rowIds(root)
    (0L to 9L).foreach(k => assert(after(k)._1 === before(k)._1, s"key $k lost its id"))
    // the commit sizes its rewrite to one file holding all ten carried and
    // updated rows; the inserts land in their own files, so their ids
    // start above the rewrite's allocation (10..19), as before the sizing
    val commit = java.nio.file.Files.readString(
      new java.io.File(root, f"_delta_log/${2L}%020d.json").toPath)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val addRecords = commit.split("\n").toSeq.map(json.readTree(_).path("add"))
      .filterNot(_.isMissingNode)
      .map(a => json.readTree(a.path("stats").asText()).path("numRecords").asLong())
    assert(addRecords.contains(10L) && addRecords.sum === 12L, commit)
    assert(Set(after(100L)._1, after(101L)._1) === Set(20L, 21L))
  }

  test("overwrite removes echo the removed files' row-tracking fields; fresh ranges after") {
    val root = mkTable(tempDir("rt"))
    DeltaSink.write(
      Seq(100L).toDF("k").withColumn("v", col("k") * 10),
      root, Map("overwrite" -> "true"))
    val v2 = java.nio.file.Files.readString(
      new java.io.File(root, f"_delta_log/${2L}%020d.json").toPath)
    // both removed files' adds carried (base, version); the removes echo them
    assert(v2.contains("\"remove\"") && v2.contains("\"baseRowId\":0")
      && v2.contains("\"baseRowId\":5"))
    val ids = rowIds(root)
    assert(ids === Map(100L -> ((10L, 2L))), "overwrite rows allocate above the hwm")
  }

  test("checkpoint folds baseRowId/defaultRowCommitVersion and the hwm domain") {
    val root = mkTable(tempDir("rt"))
    val before = rowIds(root)
    DeltaSink.checkpoint(spark, root)
    assert(rowIds(root) === before, "reader serves ids from the checkpoint")
    // post-checkpoint append must continue above the folded hwm
    DeltaSink.write(Seq(20L).toDF("k").withColumn("v", col("k") * 10), root, Map.empty)
    val after = rowIds(root)
    assert(after(20L)._1 === 10L && after(20L)._2 === 2L)
    assert((after - 20L) === before)
  }

  test("shallow clone carries the hwm domain — clone appends never overlap") {
    val dir = tempDir("rt")
    val root = mkTable(dir)
    val cloneRoot = new java.io.File(dir, "clone").getPath
    DeltaSink.shallowClone(spark, root, cloneRoot)
    DeltaSink.write(Seq(50L).toDF("k").withColumn("v", col("k") * 10),
      cloneRoot, Map.empty)
    val ids = rowIds(cloneRoot)
    assert(ids(50L)._1 === 10L, "clone's first append allocates above the cloned hwm")
    assert(ids.values.map(_._1).toSeq.distinct.size === ids.size, "no id overlaps")
  }

  test("streaming delta-commit sink allocates monotone row ids per micro-batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempDir("rt_stream").getPath + "/t"
    val in = MemoryStream[(Long, Long)](1)
    val q = graft.streaming.Streams.writeDeltaStream(
      in.toDF().toDF("k", "v"), root, "rt-stream-app")
      .option("row_tracking", "true")
      .option("checkpointLocation", tempDir("rt_stream_ck").getPath)
      .start()
    try {
      in.addData(Seq((1L, 10L), (2L, 20L)))
      q.processAllAvailable()
      in.addData(Seq((3L, 30L)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = rowIds(root)
    assert(ids.keySet === Set(1L, 2L, 3L))
    assert(ids.values.map(_._1).toSeq.sorted === Seq(0L, 1L, 2L),
      "each micro-batch continues above the previous hwm")
    assert(ids(3L)._2 === 1L, "batch 2 landed at commit version 1")
  }

  test("time travel serves the ids of the pinned version") {
    val root = mkTable(tempDir("rt"))
    DeltaSink.deleteWhere(spark, root, "k = 3")
    // pinned BEFORE the delete: id 6 (k=3) is still present
    val pinned = DeltaNative.read(spark, root,
      Map("row_tracking" -> "true", "version_as_of" -> "1"))
      .select(col("k"), col("_row_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pinned(3L) === 6L && pinned.size === 10)
    assert(!rowIds(root).contains(3L))
  }

  test("row_tracking read rejects tables that never tracked rows") {
    val dir = tempDir("rt")
    val root = new java.io.File(dir, "plain").getPath
    DeltaSink.write(Seq(1L).toDF("k"), root, Map.empty)
    val e = intercept[DeltaNative.DeltaReadException] {
      DeltaNative.read(spark, root, Map("row_tracking" -> "true")).collect()
    }
    assert(e.getMessage.contains("delta.enableRowTracking"))
  }

  test("CDF row_tracking=true: update pre/post pairs share their stable _row_id") {
    val dir = tempDir("rtcdf")
    val root = new java.io.File(dir, "t").getPath
    // v0: ids 0..4 on even keys; v1: ids 5..9 on odd keys; v2: OPTIMIZE
    // moves every row (materialized ids must survive); v3: UPDATE
    DeltaSink.write(
      Seq(0L, 2L, 4L, 6L, 8L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"),
      root, Map("row_tracking" -> "true", "change_data_feed" -> "true"))
    DeltaSink.write(
      Seq(1L, 3L, 5L, 7L, 9L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"),
      root, Map.empty)
    DeltaSink.optimize(spark, root)
    DeltaSink.updateWhere(spark, root, "k % 4 = 1", Map("v" -> "v + 1"))
    val feed = graft.sources.DeltaChanges.read(spark, root,
      Map("starting_version" -> "3", "row_tracking" -> "true"))
      .select(col("k"), col("_change_type"), col("_row_id"),
        col("_row_commit_version"))
      .collect()
    val byKey = feed.groupBy(_.getLong(0))
    assert(byKey.keySet == Set(1L, 5L, 9L))
    byKey.foreach { case (k, rows) =>
      val pre = rows.find(_.getString(1) == "update_preimage").get
      val post = rows.find(_.getString(1) == "update_postimage").get
      assert(pre.getLong(2) == 5 + (k - 1) / 2,
        s"id of key $k is its ORIGINAL create position (survived the move)")
      assert(post.getLong(2) == pre.getLong(2), "pair shares the stable id")
      assert(pre.getLong(3) == 1L, "preimage keeps the row's old version")
      assert(post.getLong(3) == 3L, "postimage re-defaults to this commit")
    }
  }

  test("MERGE on a row_tracking + CDF table: pre/post cdc pairs share ids, inserts null") {
    // regression: the postimage cdc frame used to lack __c_ver, so
    // unionByName threw AnalysisException on ANY updating MERGE when both
    // row_tracking and change_data_feed were enabled
    val dir = tempDir("rtcdfmerge")
    val root = new java.io.File(dir, "t").getPath
    DeltaSink.write(
      Seq(0L, 2L, 4L, 6L, 8L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"),
      root, Map("row_tracking" -> "true", "change_data_feed" -> "true"))
    val src = Seq((4L, 111L), (8L, 222L), (100L, 333L)).toDF("k", "v")
    val (up, ins) = DeltaSink.mergeInto(spark, root, src, "t.k = s.k",
      matchedClauses = Seq(
        MergeMatchedClause(Some("s.v = 222"), None),
        MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(up === 1L && ins === 1L)
    val feed = graft.sources.DeltaChanges.read(spark, root,
      Map("starting_version" -> "1", "row_tracking" -> "true"))
      .select(col("k"), col("_change_type"), col("_row_id"),
        col("_row_commit_version"))
      .collect()
    val byType = feed.groupBy(_.getString(1)).map { case (t, rs) => t -> rs.toSeq }
    assert(byType.keySet == Set("update_preimage", "update_postimage", "delete", "insert"))
    val pre = byType("update_preimage").head
    val post = byType("update_postimage").head
    assert(pre.getLong(0) == 4L && post.getLong(0) == 4L)
    assert(pre.getLong(2) == 2L && post.getLong(2) == 2L,
      "update pair shares the row's stable id (create position in v0)")
    assert(pre.getLong(3) == 0L, "preimage keeps the old commit version")
    assert(post.getLong(3) == 1L, "postimage re-defaults to the MERGE commit")
    val del = byType("delete").head
    assert(del.getLong(0) == 8L && del.getLong(2) == 4L && del.getLong(3) == 0L)
    val insRow = byType("insert").head
    assert(insRow.getLong(0) == 100L && insRow.isNullAt(2),
      "merge-insert cdc rows carry no position in the new files — id is null")
  }

  test("CDF row_tracking=true: partition-drop synthesized deletes carry the dropped rows' ids") {
    val dir = tempDir("rtcdf3")
    val root = new java.io.File(dir, "t").getPath
    DeltaSink.write(
      Seq((0L, "a"), (1L, "b"), (2L, "a"), (3L, "b"), (4L, "a"))
        .toDF("k", "p").coalesce(1).sortWithinPartitions("k"),
      root, Map("row_tracking" -> "true", "change_data_feed" -> "true",
        "partition_by" -> "p"))
    // ids as served by the snapshot read BEFORE the drop (allocation order
    // across partition files is the writer's business — the feed must
    // simply agree with it)
    val before = DeltaNative.read(spark, root, Map("row_tracking" -> "true"))
      .select(col("k"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    DeltaSink.deleteWhere(spark, root, "p = 'a'")
    val deletes = graft.sources.DeltaChanges.read(spark, root,
      Map("starting_version" -> "1", "row_tracking" -> "true"))
      .filter(col("_change_type") === "delete")
      .select(col("k"), col("_row_id"), col("_row_commit_version")).collect()
    assert(deletes.map(_.getLong(0)).toSet == Set(0L, 2L, 4L))
    deletes.foreach { r =>
      assert(r.getLong(1) == before(r.getLong(0)),
        s"feed id of dropped key ${r.getLong(0)} matches its snapshot id")
      assert(r.getLong(2) == 0L, "dropped rows keep their create version")
    }
  }

  test("CDF row_tracking=true on a non-row-tracking table rejects loudly") {
    val dir = tempDir("rtcdf2")
    val root = new java.io.File(dir, "t").getPath
    DeltaSink.write(Seq(1L).toDF("k"), root, Map("change_data_feed" -> "true"))
    val e = intercept[graft.sources.DeltaNative.DeltaReadException] {
      graft.sources.DeltaChanges.read(spark, root,
        Map("starting_version" -> "0", "row_tracking" -> "true")).collect()
    }
    assert(e.getMessage.contains("delta.enableRowTracking"))
  }

  test("writerGates accepts foreign tables demanding rowTracking") {
    // hand-written foreign log demanding the feature: the gate that used
    // to reject must now accept an append and allocate above the hwm
    val dir = tempDir("rt")
    val root = new java.io.File(dir, "foreign"); root.mkdirs()
    val log = new java.io.File(root, "_delta_log"); log.mkdirs()
    val seed = Seq((1L, 1.0)).toDF("id", "x").coalesce(1)
    val tmp = new java.io.File(dir, "seed"); seed.write.parquet(tmp.getPath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(root, "part-0.parquet").toPath)
    val schemaJson = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"x\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}}]}"""
    java.nio.file.Files.writeString(
      new java.io.File(log, f"${0L}%020d.json").toPath,
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["rowTracking","domainMetadata"]}}
         |{"metaData":{"id":"rt-foreign","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
         |{"add":{"path":"part-0.parquet","partitionValues":{},"size":${new java.io.File(root, "part-0.parquet").length()},"modificationTime":0,"dataChange":true,"baseRowId":0,"defaultRowCommitVersion":0,"stats":"{\\"numRecords\\":1}"}}
         |{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{\\"rowIdHighWaterMark\\":0}","removed":false}}
         |""".stripMargin)
    DeltaSink.write(Seq((2L, 2.0)).toDF("id", "x"), root.getPath, Map.empty)
    val v1 = java.nio.file.Files.readString(
      new java.io.File(log, f"${1L}%020d.json").toPath)
    assert(v1.contains("\"baseRowId\":1"), "fresh range continues above the foreign hwm")
    assert(v1.contains("\\\"rowIdHighWaterMark\\\":1"))
  }
}
