package org.apache.spark.sql.graftstream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{SparkSession => CSparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.{DeltaLog, DeltaNative}

/** STRUCTURED STREAMING over the native Delta log — `readStream` follows a
  * Delta table with no delta-spark jar, the streaming face of the batch
  * `changes_since` incremental read (`sources/DeltaNative.scala`):
  *
  *   - offsets ARE Delta commit versions (`LongOffset(v)` = "rows visible
  *     through version v"), so the streaming checkpoint is exactly the
  *     log position and recovery replays the same version interval;
  *   - the first batch is the full snapshot at the then-latest version;
  *     every later batch is the add-file diff `(prevVersion, endVersion]`
  *     — files committed after the last seen version and still live at
  *     the batch end, precisely the batch `changes_since` contract;
  *   - `getBatch` returns the SAME plan the batch reader builds (file
  *     skipping, log-served partitions, column mapping all intact) with
  *     its data-scan leaf re-marked `isStreaming` — the V1 `Source`
  *     contract (the shape FileStreamSource uses; this class lives in an
  *     `org.apache.spark.sql` subpackage for exactly that access, the
  *     same arrangement as the Kafka connector).
  *
  * Granularity is the log's own dataChange unit (whole files): an
  * append-driven feed streams cleanly; a commit that rewrites files
  * re-emits the rewritten files' rows (documented Delta CDF-less
  * behavior). Deletion-vector commits keep their anti-joins — the DV
  * sides stay batch relations, a stream-static anti-join. */
class DeltaFollowProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "delta-follow"

  private def root(parameters: Map[String, String]): String =
    parameters.getOrElse("files", parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "delta-follow needs `files` (table root) in options")))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val s = schema.getOrElse(
      new DeltaFollowSource(
        sqlContext.sparkSession.asInstanceOf[CSparkSession],
        root(parameters), parameters).schema)
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new DeltaFollowSource(
      sqlContext.sparkSession.asInstanceOf[CSparkSession],
      root(parameters), parameters)
}

object DeltaFollowSource {
  /** Options forwarded to every underlying batch read (the time-travel,
    * incremental, and change-feed keys are owned by the source itself). */
  private[graftstream] def passThrough(parameters: Map[String, String]): Map[String, String] =
    parameters -- Seq("files", "path", "version_as_of", "timestamp_as_of",
      "changes_since", "read_change_feed", "starting_version", "ending_version",
      "max_commits_per_trigger")
}

class DeltaFollowSource(spark: CSparkSession, root: String,
    parameters: Map[String, String]) extends Source {

  private val baseOpts = DeltaFollowSource.passThrough(parameters)

  /** CHANGE-FEED mode (`read_change_feed=true` + `starting_version=N`):
    * batches carry the row-level change history instead of snapshot+diffs —
    * every row stamped _change_type/_commit_version/_commit_timestamp, the
    * streaming face of the batch DeltaChanges reader. The first batch is
    * the feed [starting_version, latest]; each later batch is
    * (prevVersion, endVersion]. Offsets stay commit versions either way. */
  private val cdfMode = parameters.get("read_change_feed").exists(_.toBoolean)
  private val cdfStart: Long =
    if (!cdfMode) 0L
    else parameters.getOrElse("starting_version", throw new IllegalArgumentException(
      "delta-follow with read_change_feed=true needs starting_version")).toLong

  override val schema: StructType =
    if (cdfMode)
      DeltaNative.read(spark, root, baseOpts ++ Map(
        "read_change_feed" -> "true",
        "starting_version" -> cdfStart.toString,
        "ending_version" -> cdfStart.toString)).schema
    else DeltaNative.read(spark, root, baseOpts).schema

  /** Latest commit version by listing `_delta_log` — the same bounded
    * driver metadata read the batch reader does; no data is touched. */
  private def latestVersion(): Option[Long] = {
    val logDir = new Path(root, "_delta_log")
    val fs = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(logDir)) return None
    DeltaLog.commits(fs, logDir).lastOption.map(_._1)
  }

  /** `max_commits_per_trigger=N` bounds how many NEW commits one
    * micro-batch may cover — the maxFilesPerTrigger lever for a log
    * follower: a backlogged 100 TB table catches up in bounded,
    * checkpointable steps instead of one giant batch. V1-source caveat:
    * the cap keys off the last batch THIS instance served, so the first
    * trigger after a restart is uncapped (the checkpoint supplies its
    * start only at getBatch time); every later trigger is capped. */
  private val maxCommits: Option[Long] =
    parameters.get("max_commits_per_trigger").map { v =>
      val n = v.toLong
      if (n <= 0) throw new IllegalArgumentException(
        s"max_commits_per_trigger must be positive, got $v")
      n
    }
  @volatile private var lastServedEnd: Option[Long] = None

  override def getOffset: Option[Offset] = latestVersion().map { latest =>
    val capped = (maxCommits, lastServedEnd) match {
      case (Some(m), Some(prev)) => math.min(latest, prev + m)
      case _ => latest
    }
    LongOffset(capped)
  }

  private def version(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    // SerializedOffset on recovery: LongOffset.json is the bare number
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = version(end)
    lastServedEnd = Some(endV)
    if (cdfMode) {
      val from = start.map(version(_) + 1).getOrElse(cdfStart)
      if (from > endV)
        // restart edge: the checkpointed offset already covers endV
        return FollowSupport.asStreamingBatch(spark,
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
          schema, markAll = true)
      val feed = DeltaNative.read(spark, root, baseOpts ++ Map(
        "read_change_feed" -> "true",
        "starting_version" -> from.toString,
        "ending_version" -> endV.toString))
      // every scan in the feed union (cdc + synthesized insert/delete) is
      // part of THIS source's batch — mark them all streaming; the tiny
      // version→timestamp frame stays a batch local relation
      return FollowSupport.asStreamingBatch(spark, feed, schema, markAll = true)
    }
    val opts = baseOpts ++
      Map("files" -> root, "version_as_of" -> endV.toString) ++
      start.map(s => "changes_since" -> version(s).toString)
    FollowSupport.asStreamingBatch(spark, DeltaNative.read(spark, root, opts), schema)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"DeltaFollowSource[$root]"
}
