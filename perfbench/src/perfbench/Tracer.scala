package perfbench

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Span and counter records kept in memory until the run ends. Every
  * record is one JSON object; `Trace.records` is written out as JSONL.
  */
final class Trace {
  private val nextId = new AtomicLong(1)
  private val buf = mutable.ArrayBuffer.empty[String]

  def newId(): Long = nextId.getAndIncrement()

  def add(fields: (String, Any)*): Unit = {
    val line = Json.write(ListMap(fields: _*))
    buf.synchronized { buf += line }
  }

  def records: Seq[String] = buf.synchronized(buf.toList)
}

/** Spark's own instruments, attached only during traced passes. Jobs and
  * stages reach their query through the `perfbench.query` local property
  * the client thread sets; query-execution phases, micro-batches and block
  * updates are tagged with the query in flight, which is exact because the
  * client drains the listener bus before it starts the next query.
  */
final class Tracer(spark: SparkSession, trace: Trace) {
  import Tracer._

  @volatile var currentQuery: Long = 0L

  // The listener callbacks and `endQuery` share one lock: `this`.

  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var overheadMs = 0L; var peakExecMem = 0L
    var shuffleWriteBytes = 0L; var shuffleWriteNs = 0L
    var shuffleReadBytes = 0L; var fetchWaitMs = 0L
    var spillMem = 0L; var spillDisk = 0L
    var inputBytes = 0L; var outputBytes = 0L; var outputRecords = 0L
  }

  private val stageAcc = mutable.Map.empty[(Int, Int), StageAcc]
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Long, Int)] // query, ms, stages
  private val stageJob = mutable.Map.empty[Int, Int]
  private val persisted = mutable.Map.empty[Long, (Long, Long)]

  private def queryOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(QueryProperty)))
      .map(_.toLong).getOrElse(currentQuery)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val q = queryOf(e.properties)
      jobSpan(e.jobId) = trace.newId()
      jobStart(e.jobId) = (q, e.time, e.stageIds.size)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      for ((q, start, stages) <- jobStart.remove(e.jobId)) {
        trace.add("kind" -> "job", "id" -> jobSpan(e.jobId), "parent" -> q,
          "name" -> s"job ${e.jobId}", "start_ns" -> start * MsToNs,
          "end_ns" -> e.time * MsToNs, "stages" -> stages,
          "succeeded" -> (e.jobResult == JobSucceeded))
        stageJob.filterInPlace((_, j) => j != e.jobId)
        jobSpan.remove(e.jobId)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillMem += m.memoryBytesSpilled
        a.spillDisk += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      val a = stageAcc.remove((si.stageId, si.attemptNumber())).getOrElse(new StageAcc)
      val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(currentQuery)
      trace.add("kind" -> "stage", "id" -> trace.newId(), "parent" -> parent,
        "query" -> currentQuery, "name" -> s"stage ${si.stageId}",
        "start_ns" -> si.submissionTime.getOrElse(0L) * MsToNs,
        "end_ns" -> si.completionTime.getOrElse(0L) * MsToNs,
        "tasks" -> a.tasks, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "overhead_ms" -> a.overheadMs,
        "peak_exec_mem_bytes" -> a.peakExecMem,
        "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "shuffle_write_ns" -> a.shuffleWriteNs,
        "shuffle_read_bytes" -> a.shuffleReadBytes,
        "fetch_wait_ms" -> a.fetchWaitMs, "spill_memory_bytes" -> a.spillMem,
        "spill_disk_bytes" -> a.spillDisk, "input_bytes" -> a.inputBytes,
        "output_bytes" -> a.outputBytes, "output_records" -> a.outputRecords)
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid) {
        val (bytes, n) = persisted.getOrElse(currentQuery, (0L, 0L))
        persisted(currentQuery) = (bytes + b.memSize + b.diskSize, n + 1)
      }
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, ok = false)

    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val q = currentQuery
      val id = trace.newId()
      val phases = qe.tracker.phases
      val start = phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
      val end = phases.values.map(_.endTimeMs).maxOption.getOrElse(0L)
      trace.add("kind" -> "qe", "id" -> id, "parent" -> q, "name" -> funcName,
        "start_ns" -> start * MsToNs, "end_ns" -> end * MsToNs, "succeeded" -> ok)
      for ((name, p) <- phases)
        trace.add("kind" -> "phase", "id" -> trace.newId(), "parent" -> id,
          "query" -> q, "name" -> name, "start_ns" -> p.startTimeMs * MsToNs,
          "end_ns" -> p.endTimeMs * MsToNs)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      def ms(k: String) = d.getOrElse(k, 0L)
      val start = Instant.parse(p.timestamp)
      val startNs = start.getEpochSecond * 1000000000L + start.getNano
      trace.add("kind" -> "batch", "id" -> trace.newId(), "parent" -> currentQuery,
        "name" -> s"batch ${p.batchId}", "stream" -> p.runId.toString,
        "start_ns" -> startNs, "end_ns" -> (startNs + ms("triggerExecution") * MsToNs),
        "add_batch_ms" -> ms("addBatch"), "query_planning_ms" -> ms("queryPlanning"),
        "offset_ms" -> (ms("latestOffset") + ms("getBatch")),
        "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until the bus delivered the pass's events, then detaches every
    * listener. */
  def detach(): Unit = {
    org.apache.spark.perfbench.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the bus delivered the query's events, then records its
    * block counters. Runs outside the timed region. */
  def endQuery(queryId: Long): Unit = {
    org.apache.spark.perfbench.Bridge.drainListenerBus(spark.sparkContext)
    val (bytes, n) = synchronized(persisted.remove(queryId).getOrElse((0L, 0L)))
    trace.add("kind" -> "blocks", "id" -> trace.newId(), "parent" -> queryId,
      "persisted_bytes" -> bytes, "blocks_written" -> n)
    currentQuery = 0L
  }
}

object Tracer {
  val QueryProperty = "perfbench.query"
  private val MsToNs = 1000000L
}
