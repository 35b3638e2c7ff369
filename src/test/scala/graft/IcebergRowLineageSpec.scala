package graft

import org.apache.spark.sql.functions._

import graft.catalog.{IcebergSink, MergeInsertClause, MergeMatchedClause}
import graft.sources.IcebergNative

/** Iceberg v3 ROW LINEAGE on the native writer + reader (spec "Row
  * Lineage"): creation via `row_lineage=true` (format-version 3,
  * `next-row-id` in metadata), every added data file carrying an explicit
  * non-overlapping `first_row_id`, snapshots recording `first-row-id`,
  * `row_lineage=true` reads serving `_row_id` /
  * `_last_updated_sequence_number` (materialized-else-default), and
  * STABLE ids across positional deletes, MOR UPDATE, MERGE and
  * compaction. The reference has no lineage surface; this follows the
  * public Iceberg v3 spec directly — the cross-format sibling of Delta
  * row tracking. */
class IcebergRowLineageSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(dir: java.io.File): String = {
    val root = new java.io.File(dir, "t").getPath
    IcebergSink.write(
      Seq(0L, 2L, 4L, 6L, 8L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"), root,
      Map("row_lineage" -> "true"))
    IcebergSink.write(
      Seq(1L, 3L, 5L, 7L, 9L).toDF("k").withColumn("v", col("k") * 10)
        .coalesce(1).sortWithinPartitions("k"), root, Map.empty)
    root
  }

  private def lineage(root: String): Map[Long, (Long, Long)] =
    IcebergNative.read(spark, root, Map("row_lineage" -> "true"))
      .select(col("k"), col("_row_id"), col("_last_updated_sequence_number"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("creation writes v3 metadata with next-row-id; defaults follow append order") {
    val root = mkTable(tempDir("rl"))
    val metaDir = new java.io.File(root, "metadata")
    val v2 = java.nio.file.Files.readString(
      new java.io.File(metaDir, "v2.metadata.json").toPath)
    assert(v2.contains("\"format-version\": 3"))
    assert(v2.contains("\"next-row-id\": 10"))
    assert(v2.contains("\"first-row-id\""))
    assert(lineage(root) === Map(
      0L -> ((0L, 1L)), 2L -> ((1L, 1L)), 4L -> ((2L, 1L)), 6L -> ((3L, 1L)), 8L -> ((4L, 1L)),
      1L -> ((5L, 2L)), 3L -> ((6L, 2L)), 5L -> ((7L, 2L)), 7L -> ((8L, 2L)), 9L -> ((9L, 2L))))
  }

  test("positional DELETE keeps surviving ids (positions never renumber)") {
    val root = mkTable(tempDir("rl"))
    val before = lineage(root)
    assert(IcebergSink.deleteWhere(spark, root, "k IN (2, 7)") === 2L)
    assert(lineage(root) === before - 2L - 7L)
  }

  test("MOR UPDATE keeps the id, re-defaults the sequence; others untouched") {
    val root = mkTable(tempDir("rl"))
    val before = lineage(root)
    assert(IcebergSink.updateWhere(spark, root, "k = 3", Map("v" -> "999")) === 1L)
    val after = lineage(root)
    assert(after(3L)._1 === before(3L)._1, "updated row keeps its id")
    assert(after(3L)._2 === 3L, "sequence re-defaults to the UPDATE snapshot")
    assert((after - 3L) === (before - 3L))
  }

  test("compaction preserves ids and sequences via materialized columns") {
    val root = mkTable(tempDir("rl"))
    assert(IcebergSink.deleteWhere(spark, root, "k = 4") === 1L)
    val before = lineage(root)
    val (nBefore, nAfter) = IcebergSink.rewriteDataFiles(spark, root)
    assert(nBefore === 2 && nAfter >= 1)
    assert(lineage(root) === before, "ids and sequences survive the rows moving files")
    // post-compaction appends continue above the high-water next-row-id
    IcebergSink.write(Seq(20L).toDF("k").withColumn("v", col("k") * 10), root, Map.empty)
    val after = lineage(root)
    assert(after(20L)._1 >= 10L)
    assert(after.values.map(_._1).toSeq.distinct.size === after.size, "no id overlaps")
  }

  test("MERGE keeps carried+updated ids, assigns fresh to inserts") {
    val root = mkTable(tempDir("rl"))
    val before = lineage(root)
    val src = Seq((6L, 111L), (100L, 222L)).toDF("k", "v")
    val (up, ins) = IcebergSink.mergeInto(spark, root, src, "t.k = s.k",
      matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))),
      insertClauses = Seq(MergeInsertClause(None, None)))
    assert(up === 1L && ins === 1L)
    val after = lineage(root)
    assert(after(6L)._1 === before(6L)._1 && after(6L)._2 === 3L)
    assert((after - 6L - 100L) === (before - 6L))
    assert(after(100L)._1 >= 10L, "insert allocates above the hwm")
  }

  test("changelog with row_lineage: an update's delete+insert pair shares its id") {
    val root = mkTable(tempDir("rl"))
    val idBefore = lineage(root)(6L)._1
    IcebergSink.updateWhere(spark, root, "k = 6", Map("v" -> "999"))
    val ch = graft.sources.IcebergChanges.read(spark, root,
      Map("start_snapshot" -> "2", "row_lineage" -> "true"))
      .select(col("_change_type"), col("k"), col("v"), col("_row_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(ch === Set(
      ("delete", 6L, 60L, idBefore),
      ("insert", 6L, 999L, idBefore)), "the pair correlates on the stable id")
  }

  test("rejects: non-lineage reads, late enablement, reserved column names") {
    val dir = tempDir("rl")
    val plain = new java.io.File(dir, "plain").getPath
    IcebergSink.write(Seq(1L).toDF("k"), plain, Map.empty)
    val e1 = intercept[IcebergNative.IcebergReadException] {
      IcebergNative.read(spark, plain, Map("row_lineage" -> "true")).collect()
    }
    assert(e1.getMessage.contains("next-row-id"))
    val e2 = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.write(Seq(2L).toDF("k"), plain, Map("row_lineage" -> "true"))
    }
    assert(e2.getMessage.contains("creation"))
    val e3 = intercept[IcebergNative.IcebergReadException] {
      IcebergSink.write(Seq(1L).toDF("_row_id"),
        new java.io.File(dir, "res").getPath, Map.empty)
    }
    assert(e3.getMessage.contains("reserved"))
  }
}
