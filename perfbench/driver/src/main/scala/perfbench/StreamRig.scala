package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streams

/** The `stream_upsert` rig: one `MemoryStream` per sink, feeding
  * `Streams.upsertDeltaStream` or `Streams.upsertIcebergStream` keyed on
  * `c_custkey`. The batch file holds the seed batch, which creates every
  * table, and the numbered change batches. An op feeds one batch to one sink
  * with `addData` and returns when `processAllAvailable` does.
  *
  * `spec` is `{"batches": <file>, "sinks": [{"name", "format", "root"}]}`
  * with roots relative to the fixture dir `fx`. */
final class StreamRig(spark: SparkSession, fx: String, spec: JsonNode) {
  private type Rec = (Long, Double, String)
  private implicit val ctx: SQLContext = spark.sqlContext
  import spark.implicits._

  private val file = new ObjectMapper().readTree(new File(spec.get("batches").asText()))
  private def rows(n: JsonNode): Seq[Rec] = n.elements().asScala.map { r =>
    (r.get(0).asLong(), r.get(1).asDouble(), r.get(2).asText())
  }.toSeq
  private val batches = file.get("batches").elements().asScala.map(rows).toIndexedSeq

  private final class Sink(format: String, root: String) {
    val in: MemoryStream[Rec] = MemoryStream[Rec](1)
    private val frame = in.toDF().toDF("c_custkey", "c_acctbal", "c_mktsegment")
    private val writer = format match {
      case "delta" => Streams.upsertDeltaStream(frame, root, Seq("c_custkey"))
      case "iceberg" => Streams.upsertIcebergStream(frame, root, "perfbench", Seq("c_custkey"))
    }
    val query: StreamingQuery = writer.option("checkpointLocation", s"$root.checkpoint").start()
    def feed(data: Seq[Rec]): Unit = { in.addData(data); query.processAllAvailable() }
  }

  private val sinks: Map[String, Sink] = spec.get("sinks").elements().asScala.map { s =>
    s.get("name").asText() -> new Sink(s.get("format").asText(), s"$fx/${s.get("root").asText()}")
  }.toMap

  private val seed = rows(file.get("seed"))
  sinks.values.foreach(_.feed(seed))

  def feed(batch: Int, table: String): Unit = sinks(table).feed(batches(batch))

  def stop(): Unit = sinks.values.foreach(_.query.stop())
}
