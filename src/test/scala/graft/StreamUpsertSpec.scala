package graft

import scala.jdk.CollectionConverters._

import graft.catalog.{DeltaSink, IcebergSink, MergeMatchedClause, Sinks}
import graft.sources.{DeltaNative, IcebergNative}
import graft.streaming.Streams

/** The upsert sinks' per-batch cost must not grow with the stream: a Delta
  * copy-on-write MERGE sizes its output from the log, so a small table
  * stays one data file however many batches land, and an Iceberg upsert
  * commits its equality-delete file and its data file in one snapshot
  * (written concurrently) with the batch ledger still guarding replays.
  * A Delta copy-on-write statement (MERGE, UPDATE, DELETE) reads only the
  * files it rewrites. */
class StreamUpsertSpec extends SparkSpec {

  import spark.implicits._

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  private def commits(root: String): Seq[java.io.File] =
    new java.io.File(root, "_delta_log").listFiles().toSeq
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)

  /** Live data files after replaying every commit's add and remove actions. */
  private def liveFiles(root: String): Set[String] =
    commits(root).foldLeft(Set.empty[String]) { (live, f) =>
      java.nio.file.Files.readAllLines(f.toPath).asScala.foldLeft(live) { (l, line) =>
        val n = json.readTree(line)
        if (n.has("add")) l + n.path("add").path("path").asText()
        else if (n.has("remove")) l - n.path("remove").path("path").asText()
        else l
      }
    }

  test("delta upsert stream: one data file per table over 12 batches, content equals a model") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tempDir("ups_delta").getPath + "/t"
    var model = (0L until 40L).map(k => k -> s"v0_$k").toMap
    DeltaSink.write(model.toSeq.toDF("k", "v").coalesce(1), root, Map.empty)
    assert(liveFiles(root).size === 1)
    val in = MemoryStream[(Long, String)](1)
    val q = Streams.upsertDeltaStream(in.toDF().toDF("k", "v"), root, Seq("k"))
      .option("checkpointLocation", tempDir("ups_delta_ck").getPath).start()
    try {
      (1 to 12).foreach { b =>
        // each batch updates old keys, inserts new ones and repeats a key
        // (its last row wins)
        val rows = Seq((b.toLong, s"u${b}_first"), (b.toLong, s"u${b}_last"),
          ((b * 3 % 40).toLong, s"u$b"), (100L + b, s"i$b"), (200L + b, s"i$b"))
        in.addData(rows: _*)
        q.processAllAvailable()
        rows.foreach { case (k, v) => model += k -> v }
        assert(liveFiles(root).size === 1, s"batch $b: ${liveFiles(root)}")
      }
      val versions = commits(root).size
      in.addData(Seq.empty[(Long, String)]: _*)
      q.processAllAvailable()
      assert(commits(root).size === versions, "an empty micro-batch commits nothing")
    } finally q.stop()
    val got = DeltaNative.read(spark, root, Map.empty).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === model)
  }

  /** A Delta table of 8 files of 50 rows, key k in file k / 50. */
  private def eightFiles(name: String): String = {
    val root = tempDir(name).getPath + "/t"
    DeltaSink.write(spark.range(0, 400).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartitionByRange(8, $"k"), root, Map.empty)
    assert(liveFiles(root).size === 8)
    root
  }

  /** Parquet records read by every task `body` runs, and by each task that
    * wrote data. */
  private def recordsRead(body: => Unit): (Seq[Long], Seq[Long]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean)]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          tasks.add((m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten > 0)); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      // let the async listener bus drain before reading the queue
      var last = -1
      var waited = 0
      while (waited < 3000 && last != tasks.size) {
        last = tasks.size; Thread.sleep(200); waited += 200
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    val all = tasks.asScala.toSeq
    (all.map(_._1), all.collect { case (n, true) => n })
  }

  test("delta MERGE: the sized rewrite reads only the file it rewrites") {
    val root = eightFiles("cow_scan")
    val (_, writers) = recordsRead {
      DeltaSink.mergeInto(spark, root, Seq((7L, "x")).toDF("k", "v"), "t.k = s.k",
        matchedClauses = Seq(MergeMatchedClause(None, Some(Map("v" -> "s.v")))))
    }
    // one writer task over the 50 rows of the one affected file, not a
    // one-task scan of all 400
    assert(writers === Seq(50L))
    assert(liveFiles(root).size === 8)
    val got = DeltaNative.read(spark, root, Map.empty).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === (0L until 400L).map(k => k -> (if (k == 7L) "x" else k.toString)).toMap)
  }

  test("delta DELETE: the changed-row count and the survivor write read only the affected file") {
    val root = eightFiles("cow_dml_scan")
    val (all, writers) = recordsRead {
      assert(DeltaSink.deleteWhere(spark, root, "k = 7") === 1L)
    }
    // the survivors of the one affected file, written by one task
    assert(writers === Seq(50L))
    // the affected-file search reads only the file whose stats admit k = 7,
    // and the count and the survivor write read its 50 rows again
    assert(all.sum === 150L)
    assert(liveFiles(root).size === 8)
    val got = DeltaNative.read(spark, root, Map.empty).collect().map(_.getLong(0)).toSet
    assert(got === (0L until 400L).toSet - 7L)
  }

  test("iceberg upsert: one snapshot holds the delete and data files; a replayed batch is a no-op") {
    val root = tempDir("ups_ice").getPath
    Sinks.copyTo(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), root, "iceberg")
    val batch = Seq((2L, "b2"), (9L, "z")).toDF("id", "v")
    assert(IcebergSink.upsert(spark, root, batch, Seq("id"), Some(("app", 1L))) === ((2L, 2L)))
    def snapshots = {
      val md = new java.io.File(root, "metadata").listFiles()
        .filter(_.getName.endsWith(".metadata.json")).maxBy(_.getName)
      json.readTree(md).path("snapshots").elements().asScala.toSeq
    }
    val summary = snapshots.last.path("summary")
    assert(summary.path("added-data-files").asText() === "1", summary.toString)
    assert(summary.path("added-delete-files").asText() === "1", summary.toString)
    assert(summary.path("added-equality-deletes").asText() === "2", summary.toString)
    // the re-delivered batch id commits nothing
    assert(IcebergSink.upsert(spark, root, batch, Seq("id"), Some(("app", 1L))) === ((0L, 0L)))
    assert(snapshots.size === 2)
    assert(IcebergNative.read(spark, root, Map.empty).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "z")))
  }
}
