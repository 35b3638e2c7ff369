package graft

import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, IcebergSink, MergeInsertClause, MergeMatchedClause, Sinks}
import graft.sources.IcebergNative

/** Native Iceberg writer → native Iceberg reader round-trips: metadata.json
  * versions, Avro manifests/manifest lists, snapshot-log growth, field-id
  * parquet, append/overwrite, and the loud-reject scope gates. */
class IcebergSinkSpec extends SparkSpec {

  import spark.implicits._

  private def readBack(path: String) = IcebergNative.read(spark, path, Map.empty)

  test("create: write → read round-trip; snapshots/introspection populated") {
    val root = tempDir("isink_create").getPath
    Sinks.copyTo(Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "v", "x"),
      root, "iceberg")
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
      === Seq((1L, "a", 1.5), (2L, "b", 2.5)))
    val sn = IcebergNative.snapshots(spark, root).collect()
    assert(sn.length === 1 && sn.head.getString(4) === "append" && sn.head.getBoolean(6))
  }

  test("append adds a snapshot carrying the previous manifests; time travel sees both") {
    val root = tempDir("isink_append").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "iceberg")
    assert(readBack(root).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
    // snapshot 1 still reads the pre-append state
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // snapshot-log grew — as-of between the two commits resolves to snap 1
    val log = IcebergNative.snapshotLog(spark, root)
    assert(log.map(_._2) === Seq(1L, 2L))
  }

  test("overwrite's snapshot references only the new manifest") {
    val root = tempDir("isink_over").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg",
      Map("overwrite" -> "true"))
    assert(readBack(root).as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // history intact: the replaced snapshot still time-travels
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1")).count() === 2L)
  }

  test("data files carry parquet field ids (rename-proof resolution)") {
    val root = tempDir("isink_ids").getPath
    Sinks.copyTo(Seq((7L, "q")).toDF("id", "v"), root, "iceberg")
    val dataFile = new java.io.File(root, "data").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dataFile.getPath),
      spark.sessionState.newHadoopConf()))
    try {
      val cols = r.getFooter.getFileMetaData.getSchema.getColumns
      import scala.jdk.CollectionConverters._
      val ids = cols.asScala.map(c => c.getPrimitiveType.getId.intValue()).toSeq
      assert(ids === Seq(1, 2))
    } finally r.close()
  }

  test("snapshot-summary batch ledger makes streaming commits idempotent") {
    val root = tempDir("isink_txn").getPath
    val df = Seq((1L, "a")).toDF("id", "v")
    IcebergSink.write(df, root, Map.empty, txn = Some(("app1", 0L)))
    // re-delivered batch: same app + version → silent no-op
    IcebergSink.write(df, root, Map.empty, txn = Some(("app1", 0L)))
    assert(readBack(root).count() === 1L)
    IcebergSink.write(Seq((2L, "b")).toDF("id", "v"), root, Map.empty,
      txn = Some(("app1", 1L)))
    IcebergSink.write(Seq((3L, "c")).toDF("id", "v"), root, Map.empty,
      txn = Some(("app2", 0L))) // independent app ledger
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    assert(IcebergNative.snapshots(spark, root).count() === 3L)
  }

  test("merge-on-read DELETE: positional delete files, no data rewritten") {
    val root = tempDir("isink_del").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v")
      .repartitionByRange(2, col("id")), root, "iceberg")
    val dataBefore = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val n = IcebergSink.deleteWhere(spark, root, "id = 2 OR id = 4")
    assert(n === 2L)
    // the native reader applies the delete files
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L))
    // merge-on-read: every original data file still present, only delete
    // files were added
    val dataAfter = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataBefore.subsetOf(dataAfter))
    assert((dataAfter -- dataBefore).forall(_.startsWith("del-")))
    // repeating the predicate finds nothing new (dead positions excluded)
    assert(IcebergSink.deleteWhere(spark, root, "id = 2 OR id = 4") === 0L)
    // a second, different delete stacks on top
    assert(IcebergSink.deleteWhere(spark, root, "id = 1") === 1L)
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(3L))
    // time travel BEFORE the deletes still sees every row
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1")).count() === 4L)
    // appends after a delete: new rows land at a HIGHER sequence than the
    // delete file, so the delete must not touch them
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg")
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(3L, 9L))
  }

  test("rewritePositionDeleteFiles consolidates accumulated delete files; reads identical") {
    val root = tempDir("isink_posrw").getPath
    Sinks.copyTo((1L to 12L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(3, col("id")), root, "iceberg")
    // three DML waves → three positional-delete files stack up
    assert(IcebergSink.deleteWhere(spark, root, "id = 2") === 1L)
    assert(IcebergSink.deleteWhere(spark, root, "id IN (5, 9)") === 2L)
    assert(IcebergSink.deleteWhere(spark, root, "id = 11") === 1L)
    val expected = Seq(1L, 3L, 4L, 6L, 7L, 8L, 10L, 12L)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === expected)
    def delFileCount: Int = new java.io.File(root, "data").listFiles()
      .count(f => f.getName.startsWith("del-") && f.getName.endsWith(".parquet"))
    // the IN (5, 9) wave spans two data files → one delete part per task
    assert(delFileCount === 4)
    val (before, after) = IcebergSink.rewritePositionDeleteFiles(spark, root)
    assert(before === 4 && after === 1)
    // content identical through the native reader; old files retired from
    // the live set (still on disk until expire/orphan sweep)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === expected)
    // no-op when already consolidated
    assert(IcebergSink.rewritePositionDeleteFiles(spark, root) === ((1, 1)))
    // table stays fully writable: another delete stacks, reads stay right
    assert(IcebergSink.deleteWhere(spark, root, "id = 1") === 1L)
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === expected.drop(1))
    // CALL surface routes by attached table name
    graft.catalog.Catalog.attach(spark, "posrw_t", "iceberg", Map("files" -> root))
    graft.sqlapi.SqlApi.executePg(spark,
      "CALL system.rewrite_position_delete_files('posrw_t')")
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === expected.drop(1))
  }

  test("merge-on-read UPDATE: positional deletes + appended images, no rewrites") {
    val root = tempDir("isink_upd").getPath
    Sinks.copyTo(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
      .repartition(2), root, "iceberg")
    val dataBefore = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val n = IcebergSink.updateWhere(spark, root, "id >= 2",
      Map("bal" -> "bal * 2"))
    assert(n === 2L)
    assert(readBack(root).orderBy("id").as[(Long, Double)].collect().toSeq
      === Seq((1L, 10.0), (2L, 40.0), (3L, 60.0)))
    // merge-on-read: every original data file survives; only delete files
    // and appended update images were added
    val dataAfter = new java.io.File(root, "data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(dataBefore.subsetOf(dataAfter))
    assert((dataAfter -- dataBefore).forall(f =>
      f.startsWith("del-") || f.startsWith("upd-")))
    // SET sees the PRE-update row: a second update doubles again, and the
    // appended images (not the dead originals) are what it matches
    assert(IcebergSink.updateWhere(spark, root, "id = 2",
      Map("bal" -> "bal + 1")) === 1L)
    assert(readBack(root).filter("id = 2").select("bal").as[Double].head() === 41.0)
    // no matches → no new snapshot
    assert(IcebergSink.updateWhere(spark, root, "id = 99",
      Map("bal" -> "0.0")) === 0L)
    // unknown SET column rejects loudly
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.updateWhere(spark, root, "id = 1", Map("nope" -> "1"))
    }
    assert(e.getMessage.contains("not in the table schema"))
    // time travel BEFORE the updates still sees the original values
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
      .filter("id = 2").select("bal").as[Double].head() === 20.0)
  }

  test("merge-on-read MERGE: matched update + unmatched insert in one snapshot") {
    val root = tempDir("isink_mrg").getPath
    Sinks.copyTo(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), root, "iceberg")
    val src = Seq((2L, 5.0), (9L, 90.0)).toDF("id", "bal")
    val (upd, ins) = IcebergSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("bal" -> "t.bal + s.bal")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert((upd, ins) === ((1L, 1L)))
    assert(readBack(root).orderBy("id").as[(Long, Double)].collect().toSeq
      === Seq((1L, 10.0), (2L, 25.0), (9L, 90.0)))
    // one snapshot for the whole merge
    assert(IcebergNative.snapshots(spark, root).count() === 2L)
    // ambiguous source (two rows match one target row) rejects loudly
    val dupSrc = Seq((1L, 1.0), (1L, 2.0)).toDF("id", "bal")
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.mergeInto(spark, root, dupSrc, "t.id = s.id",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("bal" -> "s.bal")))),
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert(e.getMessage.contains("ambiguous"))
    // the ambiguity check runs before any write: no snapshot lands
    assert(IcebergNative.snapshots(spark, root).count() === 2L)
    // insert-only merge (no matched clause): matched rows untouched
    val src2 = Seq((2L, 99.0), (7L, 70.0)).toDF("id", "bal")
    assert(IcebergSink.mergeInto(spark, root, src2, "t.id = s.id",
      insertClauses = Seq(MergeInsertClause(None, None))) === ((0L, 1L)))
    assert(readBack(root).filter("id = 2").select("bal").as[Double].head() === 25.0)
    assert(readBack(root).filter("id = 7").count() === 1L)
    // source lacking a table column rejects loudly
    val e2 = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.mergeInto(spark, root, Seq(1L).toDF("id"), "t.id = s.id",
        insertClauses = Seq(MergeInsertClause(None, None)))
    }
    assert(e2.getMessage.contains("lacks table column"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync delete/update, MOR flavor") {
    val root = tempDir("isink_mrg_bysrc").getPath
    Sinks.copyTo(Seq((1L, 10.0, "live"), (2L, 20.0, "live"), (3L, 30.0, "live"),
      (4L, 40.0, "keep")).toDF("id", "bal", "st"), root, "iceberg")
    // full sync: only id=2 (updated) and id=9 (new) remain in the feed;
    // vanished rows delete UNLESS st='keep', which get stamped stale
    val src = Seq((2L, 22.0, "live"), (9L, 90.0, "live")).toDF("id", "bal", "st")
    val (upd, ins) = IcebergSink.mergeInto(spark, root, src, "t.id = s.id",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("bal" -> "s.bal")))),
      bySourceClauses = Seq(
        MergeMatchedClause(Some("t.st != 'keep'"), None),
        MergeMatchedClause(Some("t.st = 'keep'"), Some(Map("st" -> "'stale'")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert((upd, ins) === ((2L, 1L))) // 1 matched + 1 by-source update
    assert(readBack(root).orderBy("id").as[(Long, Double, String)].collect().toSeq
      === Seq((2L, 22.0, "live"), (4L, 40.0, "stale"), (9L, 90.0, "live")))
    // ONE snapshot carries the whole full-sync merge
    assert(IcebergNative.snapshots(spark, root).count() === 2L)
    // unconditional by-source delete with an empty source truncates
    val empty = Seq.empty[(Long, Double, String)].toDF("id", "bal", "st")
    // empty source + no inserts: the delete-everything sync
    val (u2, i2) = IcebergSink.mergeInto(spark, root, empty, "t.id = s.id",
      bySourceClauses = Seq(MergeMatchedClause(Some("true"), None)))
    assert(u2 === 0L && i2 === 0L)
    assert(readBack(root).count() === 0L)
  }

  test("rewriteDataFiles compacts fragments + positional deletes into a replace snapshot") {
    val root = tempDir("isink_cmp").getPath
    // 3 appends → 3+ data files, then a MOR delete → a delete file on top
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((4L, "d")).toDF("id", "v"), root, "iceberg")
    IcebergSink.deleteWhere(spark, root, "id = 2")
    val before = readBack(root).orderBy("id").as[(Long, String)].collect().toSeq
    assert(before === Seq((1L, "a"), (3L, "c"), (4L, "d")))
    val (nBefore, nAfter) = IcebergSink.rewriteDataFiles(spark, root)
    assert(nBefore >= 3 && nAfter === 1)
    // snapshot-identical content through the native reader
    assert(readBack(root).orderBy("id").as[(Long, String)].collect().toSeq === before)
    // the replace snapshot carries NO delete files: deleting id=2 again
    // finds nothing (the row is physically gone from the live set)
    assert(IcebergSink.deleteWhere(spark, root, "id = 2") === 0L)
    // pre-compaction history still time-travels
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1")).count() === 2L)
    // appends after compaction stack normally
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg")
    assert(readBack(root).count() === 4L)
  }

  test("rollbackTo re-points the current snapshot; history intact") {
    val root = tempDir("isink_rb").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "iceberg")
    IcebergSink.deleteWhere(spark, root, "id = 1")
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(2L))
    IcebergSink.rollbackTo(spark, root, 2L) // before the delete
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the rolled-past snapshot still exists (no history rewrite)
    assert(IcebergNative.snapshots(spark, root).count() === 3L)
    // writes after a rollback branch from the restored state
    Sinks.copyTo(Seq((5L, "e")).toDF("id", "v"), root, "iceberg")
    assert(readBack(root).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 5L))
    // unknown snapshot rejects loudly with the valid ids
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.rollbackTo(spark, root, 99L)
    }
    assert(e.getMessage.contains("cannot roll back"))
  }

  test("expireSnapshots drops old history and only its exclusively-owned files") {
    val root = tempDir("isink_expire").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "iceberg")        // append
    Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg",
      Map("overwrite" -> "true"))
    // inside retention: nothing expires
    assert(IcebergSink.expireSnapshots(spark, root) === ((0, 0)))
    // zero retention: snapshots 1+2 expire; snapshot 2's manifests carried
    // snapshot 1's files forward, and the CURRENT snapshot is the
    // overwrite, so the old data files are exclusively-owned → deleted
    val (expired, deleted) = IcebergSink.expireSnapshots(spark, root, retentionMs = 0L)
    assert(expired === 2 && deleted >= 2)
    // the table still reads (current snapshot untouched)
    assert(readBack(root).as[(Long, String)].collect().toSeq === Seq((9L, "z")))
    // time travel to the expired snapshots now rejects loudly at resolve
    intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
    }
    assert(IcebergNative.snapshots(spark, root).count() === 1L)
  }

  test("expireSnapshots publishes before it deletes: a lost commit deletes nothing") {
    val root = tempDir("isink_expire_race").getPath
    (1L to 3L).foreach { i =>
      Sinks.copyTo(Seq((i, s"v$i")).toDF("id", "v"), root, "iceberg")
    }
    // a concurrent writer already published v4; the hint still names v3
    val md = new java.io.File(root, "metadata")
    java.nio.file.Files.copy(new java.io.File(md, "v3.metadata.json").toPath,
      new java.io.File(md, "v4.metadata.json").toPath)
    assert(java.nio.file.Files.readString(
      new java.io.File(md, "version-hint.text").toPath).trim === "3")
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.expireSnapshots(spark, root, retentionMs = 0L)
    }
    assert(e.getMessage.contains("another writer got there first"))
    // the still-current metadata lists snapshot 1, and its files are intact
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
      .as[(Long, String)].collect().toSeq === Seq((1L, "v1")))
  }

  test("an append keeps the metadata fields a foreign writer put there") {
    val root = tempDir("isink_foreign_fields").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    val md = new java.io.File(root, "metadata")
    val v1 = new java.io.File(md, "v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(v1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    meta.putObject("properties").put("write.target-file-size-bytes", "1024")
    meta.putArray("statistics")
    meta.putArray("metadata-log")
    java.nio.file.Files.writeString(v1.toPath, mapper.writeValueAsString(meta))
    new java.io.File(md, ".v1.metadata.json.crc").delete() // stale LocalFS checksum
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "iceberg")
    val v2 = mapper.readTree(new java.io.File(md, "v2.metadata.json"))
    assert(v2.path("properties").path("write.target-file-size-bytes").asText() === "1024",
      v2.toString.take(400))
    assert(v2.has("statistics") && v2.has("metadata-log"))
    assert(v2.path("snapshots").size() === 2 && v2.path("snapshot-log").size() === 2)
    assert(readBack(root).as[(Long, String)].collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
  }

  test("metadata-only statements commit without reading the manifests") {
    val root = tempDir("isink_no_walk").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v"), root, "iceberg")
    val md = new java.io.File(root, "metadata")
    val manifest = md.listFiles().filter(f => f.getName.startsWith("m-") &&
      f.getName.endsWith(".avro")).minBy(_.getName)
    assert(manifest.delete())
    val tagged = IcebergSink.createRef(spark, root, "pinned")
    IcebergSink.addColumn(spark, root, "score", "double")
    val v4 = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(md, "v4.metadata.json"))
    assert(v4.path("refs").path("pinned").path("snapshot-id").asLong() === tagged)
    assert(v4.path("schemas").size() === 2)
  }

  test("iceberg_changes resolves like iceberg_scan: no hint and a blank hint") {
    val root = tempDir("isink_changes_hint").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "iceberg")
    IcebergSink.deleteWhere(spark, root, "id = 1")
    def changelog = graft.sources.IcebergChanges.read(spark, root,
      Map("start_snapshot" -> "1"))
      .select("id", "v", "_change_type", "_commit_snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val intact = changelog
    assert(intact === Set((1L, "a", "delete", 2L)))
    val hint = new java.io.File(root, "metadata/version-hint.text")
    assert(hint.delete())
    assert(changelog === intact)
    java.nio.file.Files.writeString(hint.toPath, "")
    assert(changelog === intact)
  }

  test("sink-written bounds stats prune files at plan time (write→read skipping)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScan(plan: SparkPlan): Option[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case f: FileSourceScanExec => Some(f)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(s) => s }
    }
    val root = tempDir("isink_stats").getPath
    // two files with disjoint id ranges + disjoint string ranges
    Sinks.copyTo(
      Seq((1L, "alpha", 1.5), (2L, "bravo", 2.5), (11L, "xray", 3.5),
        (12L, "zulu", 4.5)).toDF("id", "name", "x")
        .repartitionByRange(2, col("id")),
      root, "iceberg")
    val back = readBack(root)
    // long-range predicate outside file A's [min,max] opens only file B
    val pruned = back.filter(col("id") >= 11L)
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === Seq(11L, 12L))
    assert(findScan(pruned.queryExecution.executedPlan).get
      .metrics("numFiles").value === 1L,
      "sink-written long bounds should prune the out-of-range file")
    // string bounds prune too
    val prunedS = back.filter(col("name") >= "xray")
    assert(prunedS.collect().map(_.getString(1)).sorted.toSeq === Seq("xray", "zulu"))
    assert(findScan(prunedS.queryExecution.executedPlan).get
      .metrics("numFiles").value === 1L,
      "sink-written string bounds should prune the out-of-range file")
    // double bounds
    val prunedD = back.filter(col("x") < 2.0)
    // collect(), not count(): count() plans its own execution and would
    // leave THIS df's scan metrics unpopulated
    assert(prunedD.collect().length === 1)
    assert(findScan(prunedD.queryExecution.executedPlan).get
      .metrics("numFiles").value === 1L)
  }

  test("MOR-written files (upsert/MERGE images) carry bounds like appends") {
    val root = tempDir("isink_morstats").getPath
    Sinks.copyTo(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "x")
      .coalesce(1), root, "iceberg")
    // upsert appends a NEW data file through the MOR path — far-range ids
    IcebergSink.upsert(spark, root,
      Seq((100L, "hi", 10.0), (101L, "lo", 11.0)).toDF("id", "v", "x")
        .coalesce(1), Seq("id"))
    assert(readBack(root).count() === 4)
    // the upsert's data manifest must record lower/upper bounds for the
    // new file — the same skipping fuel the append path writes. Pin it in
    // the manifest BYTES: field id 1 (id) spans [100, 101] little-endian.
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    val morMan = new java.io.File(root, "metadata").listFiles()
      .filter(f => f.getName.matches("m-\\d+-.*\\.avro"))
      .maxBy(_.getName) // the upsert's data manifest is the latest
    val rd = new DataFileReader[GenericRecord](morMan,
      new GenericDatumReader[GenericRecord]())
    val entries = try rd.iterator().asScala.toList finally rd.close()
    val ups = entries.map(_.get("data_file").asInstanceOf[GenericRecord])
      .find(_.get("file_path").toString.contains("ups-"))
      .getOrElse(fail(s"no upsert data file in ${morMan.getName}"))
    def longAt(m: AnyRef, key: String): Long = {
      val bb = m.asInstanceOf[java.util.Map[AnyRef, java.nio.ByteBuffer]]
        .asScala.collectFirst { case (k, v) if k.toString == key => v }.get
      bb.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    }
    assert(longAt(ups.get("lower_bounds"), "1") === 100L)
    assert(longAt(ups.get("upper_bounds"), "1") === 101L)
    // a plain-filter read (no delete state after compaction) prunes on them
    IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).filter(col("id") >= 100L).collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(100L, 101L))
  }

  test("iceberg_manifests tallies the current snapshot's manifests, SQL-callable") {
    val root = tempDir("isink_mans").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1),
      root, "iceberg")
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v").coalesce(1), root, "iceberg")
    IcebergSink.deleteWhere(spark, root, "id = 1")                // delete manifest
    val m = IcebergNative.manifests(spark, root).collect()
    assert(m.length === 3) // two data manifests carried + one delete manifest
    val byContent = m.groupBy(_.getString(2))
    assert(byContent("data").map(_.getLong(3)).sum === 2L)   // two live data files
    assert(byContent("deletes").map(_.getLong(4)).sum === 1L) // one delete file
    // data rows tally: 3 data rows + 1 dead position row
    assert(m.map(_.getLong(6)).sum === 4L)
    // SQL-callable through the quote-aware swap
    val viaSql = graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT count(*) AS n FROM iceberg_manifests('$root')")
    assert(viaSql.collect().head.getLong(0) === 3L)
  }

  test("iceberg_files/partitions/refs metadata tables, SQL-callable") {
    val root = tempDir("isink_metatables").getPath
    Sinks.copyTo(Seq((1L, "us", 1.0), (2L, "eu", 2.0), (3L, "us", 3.0))
      .toDF("id", "region", "x"), root, "iceberg",
      Map("partition_by" -> "region"))
    IcebergSink.createRef(spark, root, "v1")
    IcebergSink.deleteWhere(spark, root, "id = 2 AND x > 1.5") // positional delete
    val files = IcebergNative.files(spark, root).collect()
    val data = files.filter(_.getString(0) == "data")
    assert(data.length === 2, files.toSeq) // one file per region tuple
    assert(data.forall(_.getString(3).contains("\"region\":")))
    assert(files.exists(_.getString(0) == "position-deletes"))
    // partitions aggregates live data files per tuple
    val parts = IcebergNative.partitions(spark, root).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(parts.exists { case (p, f, rows) => p.contains("us") && f === 1L && rows === 2L })
    // refs: v1 tag + live main branch
    val refs = IcebergNative.refs(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(refs("v1") === "tag" && refs("main") === "branch")
    // SQL-callable through the quote-aware swap
    assert(graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT count(*) AS n FROM iceberg_files('$root')")
      .head().getLong(0) === files.length.toLong)
    assert(graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT count(*) AS n FROM iceberg_partitions('$root')")
      .head().getLong(0) === 2L)
    assert(graft.sqlapi.SqlApi.executePg(spark,
      s"SELECT name FROM iceberg_refs('$root') WHERE type = 'tag'")
      .head().getString(0) === "v1")
  }

  test("changelog scan: per-snapshot insert/delete rows; compaction emits nothing") {
    val root = tempDir("isink_changelog").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, "iceberg") // snap 1
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v"), root, "iceberg")            // snap 2 append
    IcebergSink.deleteWhere(spark, root, "id = 1")                           // snap 3 delete
    IcebergSink.upsert(spark, root,
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), Seq("id"))                 // snap 4 upsert
    IcebergSink.rewriteDataFiles(spark, root)                                // snap 5 replace
    val ch = graft.sources.IcebergChanges.read(spark, root,
      Map("start_snapshot" -> "1"))
      .select("id", "v", "_change_type", "_commit_snapshot_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(ch === Set(
      (3L, "c", "insert", 2L),
      (1L, "a", "delete", 3L),
      (2L, "b", "delete", 4L), // the upsert's update = delete + insert pair
      (2L, "B2", "insert", 4L),
      (4L, "d", "insert", 4L)))
    // a bounded sub-range sees only its own commits
    val sub = graft.sources.IcebergChanges.read(spark, root,
      Map("start_snapshot" -> "2", "end_snapshot" -> "3"))
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sub === Set((1L, "delete")))
    // unknown snapshots reject loudly
    val e = intercept[IcebergNative.IcebergReadException] {
      graft.sources.IcebergChanges.read(spark, root, Map("start_snapshot" -> "99"))
    }
    assert(e.getMessage.contains("not in table metadata"))
  }

  test("rewriteManifests consolidates the manifest list; content identical") {
    val root = tempDir("isink_rwman").getPath
    (1 to 4).foreach { i =>
      Sinks.copyTo(Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), root, "iceberg")
    }
    IcebergSink.deleteWhere(spark, root, "id = 2") // adds a delete manifest
    val before = IcebergNative.manifests(spark, root).count()
    assert(before >= 5, s"expected >=5 manifests, got $before")
    val (b, a) = IcebergSink.rewriteManifests(spark, root)
    assert(b === before.toInt && a === 2, (b, a)) // one data + one delete manifest
    assert(IcebergNative.manifests(spark, root).count() === 2L)
    // content identical through the consolidation, deletes still applied
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L))
    // further DML works on the consolidated table
    assert(IcebergSink.deleteWhere(spark, root, "id = 3") === 1L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 4L))
    // SQL-callable
    graft.catalog.Catalog.attach(spark, "rwman_t", "iceberg", Map("files" -> root))
    graft.sqlapi.SqlApi.executePg(spark, "CALL system.rewrite_manifests('rwman_t')")
    assert(graft.sqlapi.SqlApi.executePg(spark,
      "SELECT count(*) AS n FROM rwman_t").head().getLong(0) === 2L)
  }

  test("scoped compaction: OPTIMIZE WHERE rewrites only the matching partition") {
    val root = tempDir("isink_cmpw").getPath
    (1 to 2).foreach { i =>
      Sinks.copyTo(Seq((i.toLong, "us"), (i + 10L, "eu")).toDF("id", "region"),
        root, "iceberg", Map("partition_by" -> "region"))
    }
    // 2 files per region; positional-delete one us row first (the scoped
    // rewrite must APPLY it, not resurrect the row)
    IcebergSink.deleteWhere(spark, root, "region = 'us' AND id = 1")
    val (removedN, addedN) = IcebergSink.rewriteDataFiles(spark, root,
      where = Some("region = 'us'"))
    assert(removedN === 2 && addedN === 1, (removedN, addedN))
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(2L, 11L, 12L))
    // the untouched eu files did not move; us rows live in ONE new file
    val files = IcebergNative.files(spark, root)
      .filter(col("content") === "data").collect()
    assert(files.count(_.getString(3).contains("\"region\":\"us\"")) === 1, files.toSeq)
    assert(files.count(_.getString(3).contains("\"region\":\"eu\"")) === 2)
    // a data-column predicate rejects loudly
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.rewriteDataFiles(spark, root, where = Some("id = 1"))
    }
    assert(e.getMessage.contains("partition"))
    // further DML on the scoped-compacted table works
    assert(IcebergSink.deleteWhere(spark, root, "region = 'eu'") === 2L)
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("compaction RE-CLUSTERS by the declared sort order; pruning tightens again") {
    val root = tempDir("isink_cmpsort").getPath
    // sorted CTAS declares the order; two UNSORTED appends decay clustering
    Sinks.copyTo(spark.range(1000).toDF("id").withColumn("v", col("id") % 7),
      root, "iceberg", Map("sort_by" -> "id"))
    Sinks.copyTo(spark.range(1000, 2000).toDF("id").withColumn("v", col("id") % 7)
      .orderBy(org.apache.spark.sql.functions.rand(7)).repartition(3), root, "iceberg")
    val (_, added) = IcebergSink.rewriteDataFiles(spark, root, targetFileRows = 500)
    assert(added >= 3, added)
    // with range-disjoint files, a point predicate's executed scan opens 1
    val pruned = readBack(root).filter(col("id") === 1500L)
    assert(pruned.collect().length === 1) // executes THIS plan — metrics populate
    def findScan(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Some(f)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScan(a.executedPlan)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(x) => x }
    }
    val scan = findScan(pruned.queryExecution.executedPlan)
      .getOrElse(fail("no FileSourceScanExec"))
    assert(scan.metrics("numFiles").value === 1L,
      "re-clustered compaction must leave range-disjoint files")
  }

  test("puffin DV generations merge: second DV delete/update needs no compaction") {
    val root = tempDir("isink_dvmerge").getPath
    Sinks.copyTo((1L to 8L).toDF("id").withColumn("v", col("id").cast("string"))
      .coalesce(1), root, "iceberg")
    assert(IcebergSink.deleteWhereDv(spark, root, "id % 2 = 0") === 4L)
    // merge: new vector = old ∪ new; count reports only NEW dead rows
    assert(IcebergSink.deleteWhereDv(spark, root, "id <= 3") === 2L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(5L, 7L))
    // already-dead rows never re-match
    assert(IcebergSink.deleteWhereDv(spark, root, "id <= 4") === 0L)
    // exactly ONE live DV per data file (the v3 replacement rule) — the
    // replaced entries left the manifests
    val dvEntries = IcebergNative.files(spark, root)
      .filter(col("content") === "position-deletes").collect()
    assert(dvEntries.length === 1, dvEntries.toSeq)
    // DV update over live DVs merges too: old dead stay dead, images land
    assert(IcebergSink.updateWhereDv(spark, root, "id = 5",
      Map("v" -> "'five'")) === 1L)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((5L, "five"), (7L, "7")))
    // time travel serves every generation
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "2")).count() === 4L)
  }

  test("schema mismatch, nested types, and unknown options reject loudly") {
    val root = tempDir("isink_rej").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "iceberg")
    val e = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((1, "a")).toDF("id", "v"), root, "iceberg") // int vs long
    }
    assert(e.getMessage.contains("does not match"))
    val e2 = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((1L, Seq("a"))).toDF("id", "vs"),
        tempDir("isink_rej2").getPath, "iceberg")
    }
    assert(e2.getMessage.contains("nested"))
    intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"),
        tempDir("isink_rej3").getPath, "iceberg", Map("nope" -> "v"))
    }
  }

  test("identity-partitioned create/append: one tuple per file, spec recorded") {
    val root = tempDir("isink_part").getPath
    val df = Seq((1L, "us", 1.0), (2L, "eu", 2.0), (3L, "us", 3.0),
      (4L, null.asInstanceOf[String], 4.0)).toDF("id", "region", "x")
    Sinks.copyTo(df, root, "iceberg", Map("partition_by" -> "region"))
    // the real column stays IN the data files (spec layout, not hive)
    assert(readBack(root).orderBy("id").select("region").collect()
      .map(r => Option(r.getString(0)).orNull).toSeq
      === Seq("us", "eu", "us", null))
    // metadata records the identity spec
    val meta = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "metadata/v1.metadata.json").toPath), "UTF-8")
    assert(meta.contains(""""transform": "identity"""") &&
      meta.contains(""""name": "region""""))
    // every manifest data_file carries a one-value partition tuple
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val mf = new java.io.File(root, "metadata").listFiles()
      .find(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).get
    val rd = new DataFileReader[GenericRecord](mf,
      new GenericDatumReader[GenericRecord]())
    val tuples = try {
      import scala.jdk.CollectionConverters._
      rd.iterator().asScala.map { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        Option(d.get("partition").asInstanceOf[GenericRecord])
          .map(p => Option(p.get("region")).map(_.toString).orNull)
      }.toSeq
    } finally rd.close()
    assert(tuples.forall(_.isDefined))
    assert(tuples.flatten.toSet === Set("us", "eu", null))
    // append inherits the table's spec; a conflicting spec rejects
    Sinks.copyTo(Seq((5L, "apac", 5.0)).toDF("id", "region", "x"), root, "iceberg")
    assert(readBack(root).count() === 5L)
    val e = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((6L, "x", 6.0)).toDF("id", "region", "x"), root, "iceberg",
        Map("partition_by" -> "id"))
    }
    assert(e.getMessage.contains("partition spec"))
    // the full MOR DML surface works on partitioned tables: DELETE via
    // positional delete files, UPDATE/compaction fan their appended files
    // out by the spec (one r102 tuple per file)
    assert(IcebergSink.deleteWhere(spark, root, "id = 2") === 1L)
    assert(readBack(root).count() === 4L)
    assert(IcebergSink.updateWhere(spark, root, "id = 1", Map("x" -> "9.0")) === 1L)
    assert(readBack(root).filter("id = 1").select("x").as[Double].head() === 9.0)
    // the appended update image carries its region tuple in the manifest
    locally {
      import org.apache.avro.file.DataFileReader
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      import scala.jdk.CollectionConverters._
      val updManifest = new java.io.File(root, "metadata").listFiles()
        .filter(f => f.getName.startsWith("m-") && !f.getName.startsWith("m-del-")
          && f.getName.endsWith(".avro"))
        .maxBy(_.getName.stripPrefix("m-").takeWhile(_ != '-').toLong)
      val rd2 = new DataFileReader[GenericRecord](updManifest,
        new GenericDatumReader[GenericRecord]())
      val tupleVals = try rd2.iterator().asScala.map { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        Option(d.get("partition").asInstanceOf[GenericRecord])
          .map(p => Option(p.get("region")).map(_.toString).orNull)
      }.toSeq finally rd2.close()
      assert(tupleVals.flatten.nonEmpty, tupleVals) // id=1 lives in region us
    }
    // compaction applies the deletes and rewrites per-partition
    IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 3L, 4L, 5L))
    assert(readBack(root).filter("id = 1").select("x").as[Double].head() === 9.0)
    // unsupported partition source type rejects loudly
    val e3 = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((1L, 1.5)).toDF("id", "x"),
        tempDir("isink_part_bad").getPath, "iceberg", Map("partition_by" -> "x"))
    }
    assert(e3.getMessage.contains("identity partitioning"))
  }
  test("transform-partitioned write: bucket/truncate/day tuples, UTC, spec JSON") {
    val root = tempDir("isink_tpart").getPath
    // a pre-1970 timestamp pins the FLOOR day (negative), and two rows a
    // UTC-midnight apart pin that the transform is UTC, not session-local
    val ts = Seq(
      "2024-03-05 23:59:59.0", "2024-03-06 00:00:01.0", "1969-12-31 22:00:00.0")
      .map(java.sql.Timestamp.valueOf)
    val df = Seq(
      (100L, "alpha", ts(0)), (101L, "alphonse", ts(1)), (4L, "be", ts(2)))
      .toDF("id", "name", "ts")
    Sinks.copyTo(df, root, "iceberg",
      Map("partition_by" -> "bucket(4, id), truncate(3, name), day(ts)"))
    // data round-trips; real source columns stay in the files
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(4L, 100L, 101L))
    // metadata.json records the three transforms with spec-convention names
    val meta = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(root, "metadata/v1.metadata.json").toPath), "UTF-8")
    assert(meta.contains(""""transform": "bucket[4]"""") &&
      meta.contains(""""name": "id_bucket""""), meta.take(2000))
    assert(meta.contains(""""transform": "truncate[3]"""") &&
      meta.contains(""""name": "name_trunc""""))
    assert(meta.contains(""""transform": "day"""") &&
      meta.contains(""""name": "ts_day""""))
    // manifest tuples match an INDEPENDENT recomputation of every transform
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val mf = new java.io.File(root, "metadata").listFiles()
      .find(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).get
    val rd = new DataFileReader[GenericRecord](mf,
      new GenericDatumReader[GenericRecord]())
    val tuples = try {
      import scala.jdk.CollectionConverters._
      rd.iterator().asScala.map { e =>
        val p = e.get("data_file").asInstanceOf[GenericRecord]
          .get("partition").asInstanceOf[GenericRecord]
        (p.get("id_bucket").asInstanceOf[Int], p.get("name_trunc").toString,
          p.get("ts_day").asInstanceOf[Int])
      }.toSet
    } finally rd.close()
    def epochDay(t: java.sql.Timestamp): Int =
      Math.floorDiv(t.getTime, 86400000L).toInt
    val expected = Seq((100L, "alpha", ts(0)), (101L, "alphonse", ts(1)),
      (4L, "be", ts(2))).map { case (id, nm, t) =>
      (graft.functions.IcebergTransforms.bucketLong(id, 4),
        nm.take(3), epochDay(t))
    }.toSet
    assert(tuples === expected, s"tuples=$tuples expected=$expected")
    assert(expected.exists(_._3 < 0)) // the pre-1970 row really pinned floor
    // append with no partition_by derives the table's transform spec
    Sinks.copyTo(Seq((7L, "gamma", ts(0))).toDF("id", "name", "ts"),
      root, "iceberg")
    assert(readBack(root).count() === 4L)
    // a conflicting transform spec rejects loudly
    val e = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((8L, "d", ts(0))).toDF("id", "name", "ts"), root,
        "iceberg", Map("partition_by" -> "bucket(8, id), truncate(3, name), day(ts)"))
    }
    assert(e.getMessage.contains("partition spec"))
    // unsupported transform source types reject loudly
    val e2 = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((1L, 1.5)).toDF("id", "x"),
        tempDir("isink_tpart_bad").getPath, "iceberg",
        Map("partition_by" -> "bucket(4, x)"))
    }
    assert(e2.getMessage.contains("bucket on double"))
    val e3 = intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"),
        tempDir("isink_tpart_bad2").getPath, "iceberg",
        Map("partition_by" -> "hour(id)"))
    }
    assert(e3.getMessage.contains("hour needs timestamp"))
  }

  test("partition-tuple bounds prune files when manifest column metrics are absent") {
    val root = tempDir("isink_tprune").getPath
    val ts = Seq("2024-03-05 10:00:00.0", "2024-03-05 20:00:00.0",
      "2024-03-07 09:00:00.0").map(java.sql.Timestamp.valueOf)
    Sinks.copyTo(Seq((1L, ts(0)), (2L, ts(1)), (3L, ts(2))).toDF("id", "ts")
      .coalesce(1), // one file per day tuple, so numFiles pins the pruning
      root, "iceberg", Map("partition_by" -> "day(ts)"))
    // strip the manifest's column metrics — the shape of a table written
    // with write.metadata.metrics.default=none, where the r102 tuple is
    // the ONLY per-file statistic
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
    val mdDir = new java.io.File(root, "metadata")
    val mf = mdDir.listFiles()
      .find(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).get
    val rd = new DataFileReader[GenericRecord](mf,
      new GenericDatumReader[GenericRecord]())
    val (sch, recs) = try {
      import scala.jdk.CollectionConverters._
      (rd.getSchema, rd.iterator().asScala.toList)
    } finally rd.close()
    recs.foreach { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      d.put("lower_bounds", null); d.put("upper_bounds", null)
      d.put("null_value_counts", null)
    }
    val wr = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    val tmpAvro = new java.io.File(mdDir, "m-stripped.avro.tmp")
    wr.create(sch, tmpAvro)
    try recs.foreach(wr.append) finally wr.close()
    assert(mf.delete() && tmpAvro.renameTo(mf))
    new java.io.File(mdDir, s".${mf.getName}.crc").delete() // stale LocalFS checksum
    // a day-range filter opens ONLY the matching day's file — the tuple
    // interval [d·86400e6, (d+1)·86400e6) is doing the pruning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScan(plan: SparkPlan): Option[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case f: FileSourceScanExec => Some(f)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(s) => s }
    }
    def filesRead(df: org.apache.spark.sql.DataFrame): (Seq[Long], Long) = {
      val rows = df.collect().toSeq.map(_.getLong(0))
      val scan = findScan(df.queryExecution.executedPlan).getOrElse(
        fail("no FileSourceScanExec in the executed plan"))
      (rows, scan.metrics("numFiles").value)
    }
    val t = readBack(root)
    val (r1, n1) = filesRead(t.filter(col("ts") >=
      java.sql.Timestamp.valueOf("2024-03-07 00:00:00.0")).select("id"))
    assert(r1 === Seq(3L) && n1 === 1L, (r1, n1))
    val (r2, n2) = filesRead(t.filter(col("ts") <
      java.sql.Timestamp.valueOf("2024-03-06 00:00:00.0")).select("id"))
    assert(r2.sorted === Seq(1L, 2L) && n2 === 1L, (r2, n2))
    // identity tuples pin exact min=max the same way
    val root2 = tempDir("isink_iprune").getPath
    Sinks.copyTo(Seq((1L, "us"), (2L, "eu")).toDF("id", "region").coalesce(1),
      root2, "iceberg", Map("partition_by" -> "region"))
    val md2 = new java.io.File(root2, "metadata")
    val mf2 = md2.listFiles()
      .find(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).get
    val rd2 = new DataFileReader[GenericRecord](mf2,
      new GenericDatumReader[GenericRecord]())
    val (sch2, recs2) = try {
      import scala.jdk.CollectionConverters._
      (rd2.getSchema, rd2.iterator().asScala.toList)
    } finally rd2.close()
    recs2.foreach { e =>
      val d = e.get("data_file").asInstanceOf[GenericRecord]
      d.put("lower_bounds", null); d.put("upper_bounds", null)
      d.put("null_value_counts", null)
    }
    val wr2 = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch2))
    val tmp2 = new java.io.File(md2, "m2.avro.tmp")
    wr2.create(sch2, tmp2)
    try recs2.foreach(wr2.append) finally wr2.close()
    assert(mf2.delete() && tmp2.renameTo(mf2))
    new java.io.File(md2, s".${mf2.getName}.crc").delete() // stale LocalFS checksum
    val (r3, n3) = filesRead(readBack(root2)
      .filter(col("region") === "eu").select("id"))
    assert(r3 === Seq(2L) && n3 === 1L, (r3, n3))
  }

  test("equality deletes + upsert: write, read, writer-side evaluation, compaction") {
    val root = tempDir("isink_eq").getPath
    Sinks.copyTo(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("id", "v", "x"), root, "iceberg")
    // equality delete on id: the native reader applies it
    assert(IcebergSink.equalityDelete(spark, root,
      Seq(2L).toDF("id")) === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L))
    // the delete manifest carries content=2 + equality_ids
    val manifests = new java.io.File(root, "metadata").listFiles()
      .filter(f => f.getName.startsWith("m-del-") && f.getName.endsWith(".avro"))
    assert(manifests.nonEmpty)
    // writer-side ops EVALUATE the eq delete (sequence-visibility): a
    // positional DELETE on the surviving rows works and never resurrects 2
    assert(IcebergSink.deleteWhere(spark, root, "id = 3") === 1L)
    assert(readBack(root).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // rows appended AFTER the eq delete sit at a higher sequence — immune
    Sinks.copyTo(Seq((2L, "b2", 20.0)).toDF("id", "v", "x"), root, "iceberg")
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2")))
    // UPSERT: one snapshot replaces id=1 and inserts id=9; the same-commit
    // rows are safe from their own delete by the strictly-lower rule
    val (k, ins) = IcebergSink.upsert(spark, root,
      Seq((1L, "a9", 10.0), (9L, "z", 90.0)).toDF("id", "v", "x"), Seq("id"))
    assert(k === 2L && ins === 2L)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a9"), (2L, "b2"), (9L, "z")))
    // compaction APPLIES the eq deletes; the table comes out clean
    IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a9"), (2L, "b2"), (9L, "z")))
    assert(loadClean(root))
    // float keys and unknown columns reject loudly
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergSink.equalityDelete(spark, root, Seq(1.5).toDF("x"))
    }.getMessage.contains("NaN"))
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergSink.equalityDelete(spark, root, Seq(1L).toDF("nope"))
    }.getMessage.contains("not in the table schema"))
  }

  test("PARTITIONED upsert + equality delete: global-scope delete, fanout rows, moves") {
    val root = tempDir("isink_eqpart").getPath
    Sinks.copyTo(Seq((1L, "east", 1.0), (2L, "west", 2.0), (3L, "east", 3.0))
      .toDF("id", "region", "x"), root, "iceberg",
      Map("partition_by" -> "region"))
    // upsert where a KEY MOVES PARTITION (id 1: east→west): the equality
    // delete is GLOBAL scope (null partition record), so the old east image
    // dies even though the new row lands in west
    val (k, ins) = IcebergSink.upsert(spark, root,
      Seq((1L, "west", 10.0), (9L, "north", 90.0)).toDF("id", "region", "x"),
      Seq("id"))
    assert(k === 2L && ins === 2L)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ===
      Seq((1L, "west", 10.0), (2L, "west", 2.0), (3L, "east", 3.0),
        (9L, "north", 90.0)))
    // the delete manifest's entries carry the PARTITION-AWARE schema: a
    // null partition record for the eq delete (global), real tuples for
    // nothing (no DVs here) — and the new data entries carry their tuples
    val delMan = new java.io.File(root, "metadata").listFiles()
      .filter(f => f.getName.startsWith("m-del-") && f.getName.endsWith(".avro"))
    assert(delMan.nonEmpty)
    locally {
      import org.apache.avro.file.DataFileReader
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      import scala.jdk.CollectionConverters._
      val rd = new DataFileReader[GenericRecord](delMan.head,
        new GenericDatumReader[GenericRecord]())
      val entries = try rd.iterator().asScala.toList finally rd.close()
      val d = entries.head.get("data_file").asInstanceOf[GenericRecord]
      assert(Option(d.getSchema.getField("partition")).nonEmpty,
        "delete manifest must use the partition-aware entry schema")
      assert(d.get("partition") == null, "eq delete scope must be GLOBAL (null record)")
      assert(Option(d.get("content")).map(_.asInstanceOf[Int]).contains(2))
    }
    // standalone global equality delete on the partitioned table
    assert(IcebergSink.equalityDelete(spark, root, Seq(2L).toDF("id")) === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 3L, 9L))
    // within-batch duplicate keys: the LAST row per key wins (single
    // input partition = arrival order), never a duplicate pair
    IcebergSink.upsert(spark, root,
      Seq((3L, "east", 30.0), (3L, "east", 33.0)).toDF("id", "region", "x")
        .coalesce(1), Seq("id"))
    assert(readBack(root).filter(col("id") === 3L).collect()
      .map(_.getDouble(2)).toSeq === Seq(33.0))
    // compaction applies everything and the table comes out clean
    IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq ===
      Seq((1L, 10.0), (3L, 33.0), (9L, 90.0)))
    assert(loadClean(root))
  }

  test("refs: tags pin snapshots, main advances, expire protects, reads resolve") {
    val root = tempDir("isink_refs").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v").coalesce(1), root, "iceberg")
    val snap1 = IcebergSink.createRef(spark, root, "v1-corpus") // tag @ current
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v").coalesce(1), root, "iceberg")
    // ref read serves the TAGGED snapshot; plain read serves main's
    assert(IcebergNative.read(spark, root, Map("ref" -> "v1-corpus"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(IcebergNative.read(spark, root, Map.empty).count() === 2)
    // the append advanced `main` in the refs map (spec: live branch)
    val meta = {
      val md = new java.io.File(root, "metadata")
      val f = md.listFiles().filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    }
    assert(meta.path("refs").path("v1-corpus").path("snapshot-id").asLong() === snap1)
    assert(meta.path("refs").path("main").path("snapshot-id").asLong() ===
      meta.path("current-snapshot-id").asLong())
    // DML commits also keep the tag and move main
    IcebergSink.deleteWhere(spark, root, "id = 2")
    assert(IcebergNative.read(spark, root, Map("ref" -> "v1-corpus"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // expire with zero retention: the tagged snapshot SURVIVES
    IcebergSink.expireSnapshots(spark, root, retentionMs = 0L)
    assert(IcebergNative.read(spark, root, Map("ref" -> "v1-corpus"))
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    // guards: unknown ref lists candidates; main re-pin and dup reject
    val missing = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root, Map("ref" -> "nope")).collect()
    }
    assert(missing.getMessage.contains("v1-corpus"))
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergSink.createRef(spark, root, "main")
    }.getMessage.contains("live branch"))
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergSink.createRef(spark, root, "v1-corpus")
    }.getMessage.contains("already exists"))
    // dropRef removes it
    IcebergSink.dropRef(spark, root, "v1-corpus")
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, root, Map("ref" -> "v1-corpus")).collect()
    }.getMessage.contains("no ref"))
  }

  test("refs SQL surface: CREATE/DROP TAG and quoted VERSION AS OF resolve refs") {
    import graft.sqlapi.SqlApi
    val root = tempDir("isink_refsql").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v").coalesce(1), root, "iceberg")
    Catalog.attach(spark, "refsql_t", "iceberg", Map("files" -> root))
    SqlApi.executePg(spark, "ALTER TABLE refsql_t CREATE TAG run_a")
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v").coalesce(1), root, "iceberg")
    Catalog.attach(spark, "refsql_t", "iceberg", Map("files" -> root))
    // quoted VERSION AS OF = ref name (the iceberg-spark convention)
    assert(SqlApi.executePg(spark,
      "SELECT id FROM refsql_t FOR VERSION AS OF 'run_a'")
      .collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(SqlApi.executePg(spark, "SELECT id FROM refsql_t").count() === 2L)
    SqlApi.executePg(spark, "ALTER TABLE refsql_t DROP TAG run_a")
    val gone = intercept[IcebergNative.IcebergReadException] {
      SqlApi.executePg(spark,
        "SELECT id FROM refsql_t FOR VERSION AS OF 'run_a'").collect()
    }
    assert(gone.getMessage.contains("no ref"))
  }

  test("sort_by writes range-clustered files and records the spec's sort order") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def findScan(plan: SparkPlan): Option[FileSourceScanExec] = plan match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case f: FileSourceScanExec => Some(f)
      case other =>
        other.children.iterator.map(findScan).collectFirst { case Some(s) => s }
    }
    val root = tempDir("isink_sort").getPath
    // shuffled input, 4 partitions: without sort_by these files would have
    // overlapping id ranges; with it the range shuffle clusters them
    val rows = scala.util.Random.shuffle((1 to 400).toList)
      .map(i => (i.toLong, s"v$i"))
    Sinks.copyTo(rows.toDF("id", "v").repartition(4), root, "iceberg",
      Map("sort_by" -> "id"))
    val back = readBack(root)
    assert(back.count() === 400)
    // a narrow id predicate opens ONE file — only possible when file
    // ranges are disjoint (range-clustered) and bounds recorded
    val pruned = back.filter(col("id") === 7L)
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(7L))
    val scanned = findScan(pruned.queryExecution.executedPlan).get
      .metrics("numFiles").value
    assert(scanned === 1L, s"range-clustered write should prune to 1 file, got $scanned")
    // metadata records the spec's sort order and appends preserve it
    def meta = {
      val md = new java.io.File(root, "metadata")
      val f = md.listFiles().filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    }
    assert(meta.path("default-sort-order-id").asInt() === 1)
    val so = meta.path("sort-orders").elements().asScala.toSeq
      .find(_.path("order-id").asInt() == 1).get
    val f0 = so.path("fields").elements().asScala.toSeq.head
    assert(f0.path("transform").asText() === "identity" &&
      f0.path("direction").asText() === "asc")
    Sinks.copyTo(Seq((1000L, "z")).toDF("id", "v"), root, "iceberg")
    assert(meta.path("default-sort-order-id").asInt() === 1)
    // unknown sort column rejects loudly
    assert(intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), tempDir("isink_sort2").getPath,
        "iceberg", Map("sort_by" -> "nope"))
    }.getMessage.contains("nope"))
  }

  test("write-audit-publish: branch writes stage, audits read the ref, fastForward publishes") {
    val root = tempDir("isink_wap").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v").coalesce(1), root, "iceberg")
    // STAGE: two branch commits — main is untouched throughout
    Sinks.copyTo(Seq((2L, "b")).toDF("id", "v").coalesce(1), root, "iceberg",
      Map("branch" -> "audit"))
    Sinks.copyTo(Seq((3L, "c")).toDF("id", "v").coalesce(1), root, "iceberg",
      Map("branch" -> "audit"))
    assert(readBack(root).collect().map(_.getLong(0)).toSeq === Seq(1L),
      "main must not see staged rows")
    // AUDIT: the ref read sees the staged state (base + both commits)
    assert(IcebergNative.read(spark, root, Map("ref" -> "audit"))
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    // PUBLISH: fast-forward main to the audited head
    val published = IcebergSink.fastForward(spark, root, "audit")
    assert(readBack(root).collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
    // post-publish appends build on the published head
    Sinks.copyTo(Seq((4L, "d")).toDF("id", "v").coalesce(1), root, "iceberg")
    assert(readBack(root).collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L, 4L))
    // the log shape: main's snapshot-log skipped the staged commits, the
    // publish instant points at the branch head
    val meta = {
      val md = new java.io.File(root, "metadata")
      val f = md.listFiles().filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    }
    locally {
      import scala.jdk.CollectionConverters._
      val logIds = meta.path("snapshot-log").elements().asScala
        .map(_.path("snapshot-id").asLong()).toSeq
      assert(logIds.contains(published))
      assert(logIds.size === 3, s"create + publish + append, got $logIds")
    }
    // guards: tag writes, main as a branch name, branch on create
    IcebergSink.createRef(spark, root, "pinned") // tag
    assert(intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg",
        Map("branch" -> "pinned"))
    }.getMessage.contains("TAG"))
    assert(intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"), root, "iceberg",
        Map("branch" -> "main"))
    }.getMessage.contains("default write target"))
    assert(intercept[IcebergNative.IcebergReadException] {
      Sinks.copyTo(Seq((9L, "z")).toDF("id", "v"),
        tempDir("isink_wap2").getPath, "iceberg", Map("branch" -> "stage"))
    }.getMessage.contains("existing table"))
  }

  test("removeOrphanFiles: sweeps crashed-write leftovers, honors grace + reachability") {
    val root = tempDir("isink_orphan").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), root, "iceberg")
    IcebergSink.deleteWhere(spark, root, "id = 2") // delete manifests reachable too
    // plant orphans: a fake crashed data file and a torn manifest avro
    val orphanData = new java.io.File(root, "data/orphan-task-output.parquet")
    java.nio.file.Files.write(orphanData.toPath, Array[Byte](1, 2, 3))
    val orphanAvro = new java.io.File(root, "metadata/m-torn-write.avro")
    java.nio.file.Files.write(orphanAvro.toPath, Array[Byte](4, 5, 6))
    // young orphans survive the grace window
    assert(IcebergSink.removeOrphanFiles(spark, root) === 0)
    assert(orphanData.exists() && orphanAvro.exists())
    // with zero grace they sweep; everything reachable survives
    assert(IcebergSink.removeOrphanFiles(spark, root, graceMs = 0L) === 2)
    assert(!orphanData.exists() && !orphanAvro.exists())
    assert(readBack(root).collect().map(_.getLong(0)).toSeq === Seq(1L))
    // idempotent
    assert(IcebergSink.removeOrphanFiles(spark, root, graceMs = 0L) === 0)
  }

  test("identifier_fields declare row identity; keyless upsert defaults to it") {
    import scala.jdk.CollectionConverters._
    val root = tempDir("isink_idf").getPath
    Sinks.copyTo(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "x")
      .coalesce(1), root, "iceberg", Map("identifier_fields" -> "id"))
    // the schema records the spec's identifier-field-ids
    val meta = {
      val md = new java.io.File(root, "metadata")
      val f = md.listFiles().filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    }
    val sch = meta.path("schemas").elements().asScala.next()
    assert(sch.path("identifier-field-ids").elements().asScala
      .map(_.asInt()).toSeq === Seq(1))
    // keyless upsert uses the declared identity
    IcebergSink.upsert(spark, root,
      Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "v", "x"))
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // guards: nullable and float identity columns reject at create
    assert(intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((Some(1L), "a")).toDF("id", "v"),
        tempDir("isink_idf2").getPath, "iceberg", Map("identifier_fields" -> "id"))
    }.getMessage.contains("nullable"))
    assert(intercept[Catalog.InvalidOptionException] {
      Sinks.copyTo(Seq((1.5, "a")).toDF("x", "v"),
        tempDir("isink_idf3").getPath, "iceberg", Map("identifier_fields" -> "x"))
    }.getMessage.contains("NaN"))
    // a table WITHOUT identity rejects keyless upsert loudly
    val plain = tempDir("isink_idf4").getPath
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v").coalesce(1), plain, "iceberg")
    assert(intercept[IcebergNative.IcebergReadException] {
      IcebergSink.upsert(spark, plain, Seq((1L, "b")).toDF("id", "v"))
    }.getMessage.contains("identifier_fields"))
  }

  /** After compaction no content=2 entries survive in the current snapshot. */
  private def loadClean(root: String): Boolean = {
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import scala.jdk.CollectionConverters._
    // current snapshot's manifest list via the snapshots introspection
    val ml = IcebergNative.snapshots(spark, root)
      .filter(col("is_current")).select("manifest_list").head().getString(0)
    val mlAbs = if (new java.io.File(ml).isAbsolute) ml else s"$root/$ml"
    val rd = new DataFileReader[GenericRecord](new java.io.File(mlAbs),
      new GenericDatumReader[GenericRecord]())
    val mans = try rd.iterator().asScala.map(_.get("manifest_path").toString).toList
    finally rd.close()
    mans.forall { m =>
      val ma = if (new java.io.File(m).isAbsolute) m else s"$root/$m"
      val r2 = new DataFileReader[GenericRecord](new java.io.File(ma),
        new GenericDatumReader[GenericRecord]())
      try r2.iterator().asScala.forall { e =>
        val d = e.get("data_file").asInstanceOf[GenericRecord]
        Option(d.get("content")).forall(_.asInstanceOf[Int] != 2)
      } finally r2.close()
    }
  }

  test("addColumn: metadata-only evolution; id'd old files NULL; appends carry it") {
    val root = tempDir("isink_addcol").getPath + "/t"
    IcebergSink.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root, Map.empty)
    IcebergSink.addColumn(spark, root, "score", "double")
    val evolved = readBack(root)
    assert(evolved.columns.toSeq === Seq("id", "v", "score"))
    // the old data files carry parquet field ids 1..2; the evolved column's
    // id 3 is absent from their footers -> NULL per the evolution rule
    assert(evolved.filter(col("score").isNull).count() === 2L)
    // append with the evolved schema lands; old + new rows coexist
    IcebergSink.write(Seq((3L, "c", 9.5)).toDF("id", "v", "score")
      .select(col("id"), col("v"), col("score").cast("double")), root, Map.empty)
    val rows = readBack(root).orderBy("id").collect()
    assert(rows.length === 3 && rows(2).getDouble(2) == 9.5)
    assert(rows.take(2).forall(_.isNullAt(2)))
    // pre-evolution shape now rejects
    val e = intercept[Exception] {
      IcebergSink.write(Seq((4L, "d")).toDF("id", "v"), root, Map.empty)
    }
    assert(e.getMessage.contains("schema"))
    // duplicate column rejects loudly
    val dup = intercept[Exception] { IcebergSink.addColumn(spark, root, "Score", "int") }
    assert(dup.getMessage.contains("already exists"))
  }

  test("partition evolution: ADD/DROP PARTITION FIELD; both spec eras read together") {
    val root = tempDir("isink_specevo").getPath
    Sinks.copyTo(Seq((1L, "us", 1.0), (2L, "eu", 2.0)).toDF("id", "region", "x"),
      root, "iceberg")
    // evolve: identity(region) becomes the default spec
    IcebergSink.addPartitionField(spark, root, "region")
    Sinks.copyTo(Seq((3L, "us", 3.0), (4L, "ap", 4.0)).toDF("id", "region", "x"),
      root, "iceberg")
    // both eras (unpartitioned files + region-fanned files) in one scan
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L, 4L))
    // the new era FANNED OUT one file per region tuple (the writer's
    // pN- per-tuple layout; tuples live in the manifest, not dir names),
    // the old era's files did not move
    val dataDir = new java.io.File(root, "data")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val parquets = walk(dataDir).filter(_.getName.endsWith(".parquet")).map(_.getName)
    assert(parquets.count(_.matches("^p\\d+-.*")) >= 2, parquets)
    assert(parquets.exists(_.startsWith("part-")), parquets)
    // metadata carries BOTH specs; default moved to the evolved one
    val meta = {
      val hint = java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$root/metadata/version-hint.text")).trim
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build().readTree(
        java.nio.file.Files.readString(java.nio.file.Paths.get(
          s"$root/metadata/v$hint.metadata.json")))
    }
    import scala.jdk.CollectionConverters._
    assert(meta.path("partition-specs").elements().asScala.size === 2)
    assert(meta.path("default-spec-id").asInt() === 1)
    assert(meta.path("last-partition-id").asInt() === 1000)
    // partition-scoped pruning by the evolved field still prunes: a filter
    // on region reads rows from both eras correctly
    assert(readBack(root).filter(col("region") === "us")
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // duplicate evolution rejects; dropping the field restores unpartitioned
    val e = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.addPartitionField(spark, root, "region")
    }
    assert(e.getMessage.contains("already partitioned"))
    IcebergSink.dropPartitionField(spark, root, "region")
    Sinks.copyTo(Seq((5L, "sa", 5.0)).toDF("id", "region", "x"), root, "iceberg")
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(1L, 2L, 3L, 4L, 5L))
    // transform evolution composes too (bucket on a long source)
    IcebergSink.addPartitionField(spark, root, "bucket(4,id)")
    Sinks.copyTo(Seq((6L, "eu", 6.0)).toDF("id", "region", "x"), root, "iceberg")
    assert(readBack(root).count() === 6L)
    val e2 = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.dropPartitionField(spark, root, "nope")
    }
    assert(e2.getMessage.contains("not a field"))
  }

  test("partition-only DELETE is metadata-only: whole files drop, zero data bytes move") {
    val root = tempDir("isink_pdel").getPath
    val df = Seq((1L, "2026-01-01", 1.0), (2L, "2026-01-01", 2.0),
      (3L, "2026-01-02", 3.0), (4L, "2026-01-03", 4.0))
      .toDF("id", "ds", "x")
    Sinks.copyTo(df, root, "iceberg", Map("partition_by" -> "ds"))
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val dataBefore = walk(new java.io.File(root, "data"))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified).toMap
    // predicate touches ONLY the identity partition source → whole-file drop
    val n = IcebergSink.deleteWhere(spark, root, "ds < '2026-01-02'")
    assert(n === 2L)
    assert(readBack(root).orderBy("id").select("id").as[Long].collect().toSeq
      === Seq(3L, 4L))
    // ZERO data bytes moved: no file added, none rewritten, none deleted
    val dataAfter = walk(new java.io.File(root, "data"))
      .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.lastModified).toMap
    assert(dataAfter === dataBefore)
    // and no positional delete files either — the snapshot says so
    val sn = IcebergNative.snapshots(spark, root).orderBy(col("committed_at").desc)
      .limit(1).collect().head
    assert(sn.getString(4) === "delete")
    // time travel still serves the pre-delete state
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1")).count() === 4L)
    // a predicate touching a DATA column falls back to positional deletes
    // and stays correct
    val n2 = IcebergSink.deleteWhere(spark, root, "ds = '2026-01-02' AND x > 2.5")
    assert(n2 === 1L)
    assert(readBack(root).select("id").as[Long].collect().toSeq === Seq(4L))
    // once row-level deletes exist, the fast path must DISABLE (counts
    // would lie) — this delete still works through the positional path
    val n3 = IcebergSink.deleteWhere(spark, root, "ds = '2026-01-03'")
    assert(n3 === 1L)
    assert(readBack(root).count() === 0L)
  }

  test("SQL ALTER TABLE ADD COLUMN routes to the native writers and re-attaches") {
    val root = tempDir("isink_alter").getPath + "/t"
    IcebergSink.write(Seq((1L, "x")).toDF("id", "v"), root, Map.empty)
    Catalog.attach(spark, "alter_ice", "iceberg", Map("files" -> root))
    graft.sqlapi.SqlApi.executePg(spark,
      "ALTER TABLE alter_ice ADD COLUMN score double precision")
    val df = spark.table("alter_ice")
    assert(df.columns.toSeq === Seq("id", "v", "score"))
    assert(df.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    // and the delta side through the same route
    val droot = tempDir("dsink_alter").getPath + "/t"
    graft.catalog.DeltaSink.write(Seq((1L, "x")).toDF("id", "v"), droot, Map.empty)
    Catalog.attach(spark, "alter_del", "delta", Map("files" -> droot))
    graft.sqlapi.SqlApi.executePg(spark,
      "ALTER TABLE alter_del ADD COLUMN note text")
    assert(spark.table("alter_del").columns.toSeq === Seq("id", "v", "note"))
    // a non-lakehouse attach rejects loudly
    val e = intercept[IllegalArgumentException] {
      graft.sqlapi.SqlApi.executePg(spark, "ALTER TABLE nope ADD COLUMN x int")
    }
    assert(e.getMessage.contains("not an attached"))
  }
  test("time travel serves the schema of the pinned snapshot, not today's") {
    val root = tempDir("isink_snapschema").getPath + "/t"
    IcebergSink.write(Seq((1L, "a")).toDF("id", "v"), root, Map.empty)   // snap 1, schema 0
    IcebergSink.addColumn(spark, root, "score", "double")                 // evolution
    IcebergSink.write(Seq((2L, "b", 5.0)).toDF("id", "v", "score")
      .select(col("id"), col("v"), col("score").cast("double")), root, Map.empty) // snap 2, schema 1
    // current read: evolved schema over both snapshots' files
    assert(readBack(root).columns.toSeq === Seq("id", "v", "score"))
    // pinned read of snapshot 1: the PRE-evolution schema (spec schema-id)
    val old = IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
    assert(old.columns.toSeq === Seq("id", "v"))
    assert(old.collect().map(_.getLong(0)).toSeq === Seq(1L))
    // snapshot 2 pinned: evolved schema
    val cur = IcebergNative.read(spark, root, Map("snapshot_id" -> "2"))
    assert(cur.columns.toSeq === Seq("id", "v", "score"))
  }
  test("dropColumn and renameColumn are metadata-only; rejects are loud") {
    val root = tempDir("isink_droprename").getPath + "/t"
    IcebergSink.write(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "v", "x")
      .select(col("id"), col("v"), col("x").cast("double")), root, Map.empty)
    // rename: same field id, reads resolve by id across the rename
    IcebergSink.renameColumn(spark, root, "v", "label")
    val renamed = readBack(root)
    assert(renamed.columns.toSeq === Seq("id", "label", "x"))
    assert(renamed.orderBy("id").collect().map(_.getString(1)).toSeq === Seq("a", "b"))
    // drop: bytes stay in the files, never projected again
    IcebergSink.dropColumn(spark, root, "x")
    val dropped = readBack(root)
    assert(dropped.columns.toSeq === Seq("id", "label"))
    // time travel to snapshot 1 still sees the ORIGINAL names via schema-id...
    // (snapshot written pre-evolution pins schema 0)
    val old = IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
    assert(old.columns.toSeq === Seq("id", "v", "x"))
    // unknown / duplicate columns reject
    assert(intercept[Exception] { IcebergSink.dropColumn(spark, root, "nope") }
      .getMessage.contains("does not exist"))
    assert(intercept[Exception] { IcebergSink.renameColumn(spark, root, "id", "label") }
      .getMessage.contains("already exists"))
    // SQL routes: rename back through executePg; delta routes through its
    // own column-mapping evolution (behavior pinned in DeltaSinkSpec)
    Catalog.attach(spark, "dr_ice", "iceberg", Map("files" -> root))
    graft.sqlapi.SqlApi.executePg(spark, "ALTER TABLE dr_ice RENAME COLUMN label TO v")
    assert(spark.table("dr_ice").columns.toSeq === Seq("id", "v"))
    val droot = tempDir("dsink_droprename").getPath + "/t"
    graft.catalog.DeltaSink.write(Seq((1L, "x", 2.0)).toDF("id", "v", "w"), droot, Map.empty)
    Catalog.attach(spark, "dr_del", "delta", Map("files" -> droot))
    graft.sqlapi.SqlApi.executePg(spark, "ALTER TABLE dr_del DROP COLUMN v")
    assert(spark.table("dr_del").columns.toSeq === Seq("id", "w"))
    graft.sqlapi.SqlApi.executePg(spark, "ALTER TABLE dr_del RENAME COLUMN w TO weight")
    assert(spark.table("dr_del").select("id", "weight").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === Seq((1L, 2.0)))
  }

  test("dropColumn rejects on a partition source or live delete files") {
    val root = tempDir("isink_dropguard").getPath + "/t"
    IcebergSink.write(Seq((1L, "US", 1.0), (2L, "DE", 2.0)).toDF("id", "region", "x")
      .select(col("id"), col("region"), col("x").cast("double")), root,
      Map("partition_by" -> "region"))
    assert(intercept[Exception] { IcebergSink.dropColumn(spark, root, "region") }
      .getMessage.contains("partition spec"))
    // live positional deletes block the drop until compaction
    IcebergSink.deleteWhere(spark, root, "id = 1")
    assert(intercept[Exception] { IcebergSink.dropColumn(spark, root, "x") }
      .getMessage.contains("compact"))
  }
  test("deleteWhereDv: puffin DV delete round-trips through the native reader") {
    val root = tempDir("isink_dv").getPath + "/t"
    IcebergSink.write(spark.range(0, 100).toDF("id").coalesce(2), root, Map.empty)
    val n = IcebergSink.deleteWhereDv(spark, root, "id % 2 = 0")
    assert(n === 50L)
    val df = readBack(root)
    assert(df.count() === 50L)
    assert(df.filter(col("id") % 2 === 0).count() === 0L)
    // the puffin container exists and the table declares format v3
    assert(new java.io.File(root, "data").listFiles().exists(_.getName.endsWith(".puffin")))
    val meta = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$root/metadata/v2.metadata.json"))
    assert(meta.contains("\"format-version\": 3") || meta.contains("\"format-version\":3"),
      meta.take(100))
    // time travel to the pre-delete snapshot sees every row
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1")).count() === 100L)
    // POSITIONAL DML over live DVs still rejects loudly (layering is
    // undefined); a second DV delete MERGES instead of requiring compaction
    assert(intercept[Exception] { IcebergSink.deleteWhere(spark, root, "id = 1") }
      .getMessage.contains("deletion vectors"))
    assert(IcebergSink.deleteWhereDv(spark, root, "id = 1") === 1L)
    assert(readBack(root).count() === 49L)
    // compaction applies the merged DV; the table is then DV-free
    val (was, now) = IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).count() === 49L) // content identical post-compaction
    assert(IcebergSink.deleteWhereDv(spark, root, "id = 3") === 1L)
    assert(readBack(root).count() === 48L)
  }

  test("deleteWhereDv over existing positional deletes rejects until compaction") {
    val root = tempDir("isink_dvmix").getPath + "/t"
    IcebergSink.write(spark.range(0, 20).toDF("id").coalesce(1), root, Map.empty)
    IcebergSink.deleteWhere(spark, root, "id = 3") // positional delete file
    val e = intercept[Exception] { IcebergSink.deleteWhereDv(spark, root, "id = 4") }
    assert(e.getMessage.contains("compact"), e.getMessage)
    IcebergSink.rewriteDataFiles(spark, root)
    assert(IcebergSink.deleteWhereDv(spark, root, "id = 4") === 1L)
    assert(readBack(root).orderBy("id").collect().map(_.getLong(0)).toSet
      === (0L until 20L).toSet -- Set(3L, 4L))
  }
  test("updateWhereDv: puffin DV update appends images; old positions go dead") {
    val root = tempDir("isink_dvupd").getPath + "/t"
    IcebergSink.write(Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "bal")
      .select(col("id"), col("bal").cast("double")).coalesce(1), root, Map.empty)
    val n = IcebergSink.updateWhereDv(spark, root, "id = 2", Map("bal" -> "bal * 10"))
    assert(n === 1L)
    val rows = readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 10.0), (2L, 200.0), (3L, 30.0)))
    // one snapshot carrying BOTH the DV and the image file
    assert(graft.sources.IcebergNative.snapshots(spark, root).count() === 2L)
    // time travel shows the pre-update value
    assert(IcebergNative.read(spark, root, Map("snapshot_id" -> "1"))
      .filter(col("id") === 2L).collect().head.getDouble(1) === 20.0)
    // compaction applies the DV; content identical
    IcebergSink.rewriteDataFiles(spark, root)
    assert(readBack(root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq === rows)
    // a second DV update now lands on the clean table
    assert(IcebergSink.updateWhereDv(spark, root, "id = 1", Map("bal" -> "bal + 1")) === 1L)
    assert(readBack(root).filter(col("id") === 1L).collect().head.getDouble(1) === 11.0)
  }
}
