package perfbench

import java.lang.management.ManagementFactory
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records spans and per-op counters from Spark's public instrumentation:
  * `SparkListener` job, stage and task events, each action's
  * `QueryExecution.tracker` phases and scan-node `SQLMetrics`, and
  * `StreamingQueryProgress.durationMs`.
  *
  * Spans live in memory and are written out with the run's result. A span
  * is `{id, name, op, parent, start_ms, end_ms}` in epoch milliseconds; the
  * chain is op → call (the public call) or fetch (collecting its rows) →
  * job → stage, call/fetch → Catalyst phase, and call → stream trigger →
  * progress phase. Progress phases carry durations
  * only, so their spans are laid end to end from the trigger's start in
  * micro-batch order and marked `approx`.
  *
  * The driver calls [[begin]] before an op and [[end]] after draining the
  * listener bus, so every event delivered in between belongs to that op. */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def epochMs(ns: Long): Double = baseMs + ns / 1e6

  val spans = new JList[Any]()
  // this op's spans whose parent is the op itself, re-parented in end()
  private val topLevel = mutable.ArrayBuffer[JMap[String, Any]]()
  private var nextId = 0L
  private def put(id: Long, name: String, parent: Long, start: Double, end: Double,
      extra: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    m.put("id", id); m.put("name", name); m.put("op", op); m.put("parent", parent)
    m.put("start_ms", start); m.put("end_ms", end)
    extra.foreach { case (k, v) => m.put(k, v) }
    spans.add(m)
    if (parent == opSpan) topLevel += m
    m
  }
  private def span(name: String, parent: Long, start: Double, end: Double,
      extra: (String, Any)*): Long = synchronized {
    nextId += 1
    put(nextId, name, parent, start, end, extra: _*)
    nextId
  }

  private var op = 0
  private var opSpan = 0L
  private var counters = mutable.LinkedHashMap[String, Double]()
  private val jobStart = mutable.Map[Int, (Long, Long)]() // job → (start ms, span id)
  private val stageJob = mutable.Map[Int, Int]()
  private var gcAtBegin = 0L

  private def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v

  def begin(i: Int): Unit = synchronized {
    op = i
    counters = mutable.LinkedHashMap[String, Double]()
    nextId += 1
    opSpan = nextId // reserved now so children can name it; written in end()
    gcAtBegin = Tracer.gcMs()
  }

  /** Closes op `op`: writes its op, call and fetch spans, moves each job,
    * phase and trigger span under the call or fetch span it started in, and
    * returns the op's counters. `t1` is when the public call returned its
    * frame (== t0 for a batch, which has no fetch). */
  def end(t0: Long, t2: Long, t1: Long): JMap[String, Any] = synchronized {
    val children = topLevel.toList
    put(opSpan, "op", 0L, epochMs(t0), epochMs(t2))
    val call = span("call", opSpan, epochMs(t0), epochMs(if (t1 > t0) t1 else t2))
    val fetch = if (t1 > t0) span("fetch", opSpan, epochMs(t1), epochMs(t2)) else call
    topLevel.clear()
    children.foreach { c =>
      c.put("parent", if (c.get("start_ms").asInstanceOf[Double] < epochMs(t1)) call else fetch)
    }
    add("gc_ms", (Tracer.gcMs() - gcAtBegin).toDouble)
    add("heap_used_mb", ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0)
    val out = new JMap[String, Any]()
    counters.foreach { case (k, v) => out.put(k, v) }
    out
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      nextId += 1
      jobStart(e.jobId) = (e.time, nextId)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      add("jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (start, id) =>
        put(id, "job", opSpan, start.toDouble, e.time.toDouble)
        add("job_ms", (e.time - start).toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val parent = stageJob.get(si.stageId).flatMap(j => jobStart.get(j).map(_._2)).getOrElse(opSpan)
      for (s <- si.submissionTime; c <- si.completionTime)
        span("stage", parent, s.toDouble, c.toDouble, "tasks" -> si.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { t =>
        add("task_run_ms", t.executorRunTime.toDouble)
        add("task_cpu_ms", t.executorCpuTime / 1e6)
        add("shuffle_bytes", (t.shuffleReadMetrics.totalBytesRead + t.shuffleWriteMetrics.bytesWritten).toDouble)
        add("spill_bytes", (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
        add("task_gc_ms", t.jvmGCTime.toDouble)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
    add("actions", 1)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      qe.tracker.phases.get(ph).foreach { p =>
        add(s"${ph}_ms", p.durationMs.toDouble)
        span(ph, opSpan, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
    }
    Tracer.nodes(qe.executedPlan).foreach {
      case s: FileSourceScanExec =>
        def metric(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        add("scans", 1)
        add("files_read", metric("numFiles"))
        add("files_total", s.relation.location.inputFiles.length.toDouble)
        add("bytes_read", metric("filesSize"))
        add("rows_scanned", metric("numOutputRows"))
        add("scan_metadata_ms", metric("metadataTime"))
      case _ =>
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
        add("triggers", 1)
        d.foreach { case (k, v) => add(s"stream.$k", v.toDouble) }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val trigger = span("trigger", opSpan, start, start + d.getOrElse("triggerExecution", 0L))
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            d.get(k).foreach { v =>
              span(k, trigger, at, at + v, "approx" -> true)
              at += v
            }
          }
      }
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(queries)
  spark.streams.addListener(streams)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }
}

object Tracer {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Every node of an executed plan, through adaptive plans, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
