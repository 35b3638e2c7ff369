package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** CHANGELOG SCAN over a native Iceberg table — the iceberg-spark
  * `table_changes` idea: every row change between two snapshots as
  * `_change_type` = insert | delete rows (an update is its delete+insert
  * pair), attributed to the snapshot that committed it.
  *
  * The scan walks ADJACENT snapshot pairs in `(start_snapshot,
  * end_snapshot]` and diffs each pair, so attribution is exact and work is
  * bounded per commit:
  *   - an `append` pair is METADATA-DIFFED: inserts come from the reader's
  *     `changes_since_snapshot` manifest-set diff (O(changed manifests),
  *     the x08 bound) and deletes are empty by construction;
  *   - any pair that rewrote or deleted rows (delete/overwrite/replace/
  *     upsert) diffs the two pinned reads with `exceptAll` — the semantic
  *     baseline; both sides are snapshot-pruned scans and the diff is one
  *     hash shuffle. `replace` (compaction) pairs are content-identical
  *     and SKIPPED without any scan, per the spec's snapshot semantics.
  *
  * Unknown snapshot ids reject loudly (expired history cannot be
  * replayed). Reference surface: `/root/reference` exposes no changelog —
  * this is a beyond-reference component for incremental corpus sync. */
object IcebergChanges {
  import IcebergNative.IcebergReadException

  def read(spark: SparkSession, root: String,
      options: Map[String, String]): DataFrame = {
    val start = options.getOrElse("start_snapshot",
      throw IcebergReadException(
        "iceberg_changes needs start_snapshot (exclusive lower bound)"))
    val startId = try start.toLong catch {
      case _: NumberFormatException =>
        throw IcebergReadException(s"start_snapshot `$start` is not a number")
    }
    val snap = IcebergLog.current(spark, root)
    val snaps = snap.snapshots
      .map(sn => (sn.path("snapshot-id").asLong(),
        sn.path("timestamp-ms").asLong(),
        sn.path("summary").path("operation").asText("append")))
    val snapById = snaps.map(s => s._1 -> s).toMap
    // MAIN lineage only: branch (WAP) snapshots share the `snapshots` list
    // and the id sequence, but never enter snapshot-log (the writer keeps
    // it branch-free per spec). Walking all snapshots would diff a
    // main-line snapshot against an unpublished audit-branch one,
    // fabricating insert/delete pairs with wrong attribution. snapshot-log
    // order IS commit order — no id-sort assumption needed.
    val logIds = snap.snapshotLog.map(_._2).distinct
    val mainLine: Seq[(Long, Long, String)] =
      if (logIds.nonEmpty) logIds.flatMap(snapById.get)
      else snaps.sortBy(_._1)
    def requireMain(id: Long, what: String): Unit =
      if (!mainLine.exists(_._1 == id)) {
        if (snapById.contains(id)) throw IcebergReadException(
          s"`$root`: $what $id is a branch snapshot (not on the main " +
            "lineage) — changelog ranges must use published snapshots")
        else throw IcebergReadException(
          s"`$root`: $what $id not in table metadata (known: " +
            s"${mainLine.map(_._1).mkString(", ")}) — expired?")
      }
    requireMain(startId, "start_snapshot")
    val endId = options.get("end_snapshot").map { v =>
      val id = try v.toLong catch {
        case _: NumberFormatException =>
          throw IcebergReadException(s"end_snapshot `$v` is not a number")
      }
      requireMain(id, "end_snapshot")
      id
    }.getOrElse(snap.currentSnapshotId)
    val startIdx = mainLine.indexWhere(_._1 == startId)
    val endIdx = mainLine.indexWhere(_._1 == endId)
    if (endIdx < startIdx) throw IcebergReadException(
      s"`$root`: end_snapshot $endId precedes start_snapshot $startId")

    val range = mainLine.slice(startIdx + 1, endIdx + 1)
    // ROW-LINEAGE CHANGELOG (`row_lineage=true`, v3 tables): every change
    // row additionally carries `_row_id` — an UPDATE's delete+insert pair
    // shares the SAME stable id, so a CDC consumer can correlate the pair
    // without a key column (the lineage spec's motivating consumer). The
    // pinned reads serve ids per snapshot; the exceptAll diff then keys on
    // values AND identity, which also surfaces same-value rewrites whose
    // `_last_updated_sequence_number` moved.
    val withLineage = options.get("row_lineage").exists(_.toBoolean)
    val readOpts: Map[String, String] =
      if (withLineage) Map("row_lineage" -> "true") else Map.empty
    def pinned(id: Long): DataFrame =
      IcebergNative.read(spark, root, readOpts + ("snapshot_id" -> id.toString))
    val baseSchema = pinned(endId).schema

    def stamped(df: DataFrame, change: String, id: Long, ts: Long): DataFrame =
      df.select(baseSchema.fieldNames.map(col).toSeq: _*)
        .withColumn("_change_type", lit(change))
        .withColumn("_commit_snapshot_id", lit(id))
        .withColumn("_commit_timestamp",
          lit(new java.sql.Timestamp(ts)).cast("timestamp"))

    var prevId = startId
    val parts = Seq.newBuilder[DataFrame]
    range.foreach { case (id, ts, op) =>
      op match {
        case "append" =>
          // metadata-bounded: end-only manifests relative to the previous
          // snapshot; no delete side exists in an append commit
          parts += stamped(IcebergNative.read(spark, root, readOpts ++ Map(
            "snapshot_id" -> id.toString,
            "changes_since_snapshot" -> prevId.toString)), "insert", id, ts)
        case "replace" =>
          // compaction: snapshot content is identical by contract — no
          // logical change, no scan
          ()
        case _ =>
          val before = pinned(prevId)
          val after = pinned(id)
          parts += stamped(after.exceptAll(before), "insert", id, ts)
          parts += stamped(before.exceptAll(after), "delete", id, ts)
      }
      prevId = id
    }
    val frames = parts.result()
    if (frames.isEmpty)
      stamped(pinned(endId).limit(0), "insert", endId, 0L).limit(0)
    else frames.reduce(_ unionByName _)
  }
}
