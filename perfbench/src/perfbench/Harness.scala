package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Row, SparkSession}

/** Closed-loop client for one benchmark run: one JVM, one client thread,
  * each query sent only after the previous one finished and every cache
  * was swept. A run is set-up, one cold pass (each key once in this fresh
  * JVM) and then warm passes until `seconds` have passed since the cold
  * pass began, at least `MinWarmPasses` of them. Each execution is timed
  * from outside the call (construction) and outside a `collect()` that
  * hands every row and column to the caller (execution).
  *
  * Usage: perfbench.Harness <data dir> <orders file> <seconds> <trace 0|1>
  *          <result.json> <spans.jsonl>
  * where line i of the orders file is pass i's comma-separated key order.
  */
object Harness {
  val MinWarmPasses = 2

  /** The modules of `graft.ops`, for the per-module layer metrics. */
  private lazy val moduleOf: Map[String, String] = {
    import graft.ops._
    Seq("Scans" -> Scans.ops, "Filters" -> Filters.ops, "Joins" -> Joins.ops,
      "Aggs" -> Aggs.ops, "Windows" -> Windows.ops, "SetSort" -> SetSort.ops,
      "Scalars" -> Scalars.ops, "Text" -> Text.ops, "Similarity" -> Similarity.ops,
      "Streaming" -> Streaming.ops, "MLPipeline" -> MLPipeline.ops,
      "Udfs" -> Udfs.ops, "Multimodal" -> Multimodal.ops,
      "TextAnalysis" -> TextAnalysis.ops, "Events" -> Events.ops,
      "Graph" -> Graph.ops, "Quality" -> Quality.ops, "SqlShapes" -> SqlShapes.ops)
      .flatMap { case (m, ops) => ops.map(_.name -> m) }.toMap
  }

  private val clock = new Clock

  def main(args: Array[String]): Unit = {
    val Array(dataDir, ordersPath, secondsS, traceS, resultPath, spansPath) = args
    val orders = Files.readAllLines(Paths.get(ordersPath)).asScala.toVector
      .map(_.split(',').toVector)
    val traced = traceS == "1"
    requireCodeCache()
    val unknown = orders.flatten.distinct.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")

    val heap = new HeapPeak
    val spark = newSession()
    // Set-up as a scheduled job pays it: from JVM start until the session
    // is ready.
    val setupNs = clock.now - ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val cores = spark.sparkContext.defaultParallelism
    val client = new Client(spark, dataDir, heap)
    val runStart = clock.now
    val deadline = runStart + (secondsS.toDouble * 1e9).toLong
    val passes = mutable.ArrayBuffer.empty[ListMap[String, Any]]
    // Traced runs alternate traced and untraced warm passes, so one run
    // yields both the layer metrics and the tracing overhead.
    val minPasses = 1 + MinWarmPasses + (if (traced) 2 else 0)
    while ((passes.size < minPasses || clock.now < deadline) && passes.size < orders.size) {
      val index = passes.size
      passes += client.pass(index, orders(index), traced && (index <= 1 || index % 2 == 1))
    }
    val runEnd = clock.now
    heap.stop()
    spark.stop()

    if (traced) {
      client.trace.add("kind" -> "run", "id" -> client.runId, "parent" -> 0,
        "name" -> "run", "start_ns" -> runStart, "end_ns" -> runEnd)
      Files.write(Paths.get(spansPath), client.trace.records.asJava, StandardCharsets.UTF_8)
    }
    val result = ListMap("cores" -> cores, "setup_ns" -> setupNs, "passes" -> passes.toSeq)
    Files.writeString(Paths.get(resultPath), Json.write(result))
  }

  private final class Client(spark: SparkSession, dataDir: String, heap: HeapPeak) {
    val trace = new Trace
    val runId: Long = trace.newId()
    private val tracer = new Tracer(spark, trace)

    def pass(index: Int, order: Seq[String], traced: Boolean): ListMap[String, Any] = {
      val passId = trace.newId()
      val jvm0 = JvmCounters.read()
      if (traced) tracer.attach()
      heap.start()
      val start = clock.now
      val queries = order.map(key => query(passId, key, traced))
      val end = clock.now
      val peakHeap = heap.finish()
      if (traced) tracer.detach()
      val jvm = JvmCounters.read() - jvm0
      val kind = if (index == 0) "cold" else "warm"
      val fields = Seq("index" -> index, "traced" -> traced,
        "start_ns" -> start, "end_ns" -> end, "jit_ms" -> jvm.jitMs,
        "classes_loaded" -> jvm.classesLoaded, "gc_ms" -> jvm.gcMs,
        "peak_live_heap_bytes" -> peakHeap)
      if (traced)
        trace.add(Seq("kind" -> "pass", "id" -> passId, "parent" -> runId,
          "name" -> kind) ++ fields: _*)
      ListMap("kind" -> kind) ++ fields + ("queries" -> queries)
    }

    private def query(passId: Long, key: String, traced: Boolean): ListMap[String, Any] = {
      sweep(spark)
      val queryId = trace.newId()
      val sc = spark.sparkContext
      sc.setLocalProperty(Tracer.QueryProperty, queryId.toString)
      tracer.currentQuery = queryId
      val fn = graft.SparkEntry.queries(key)
      val start = clock.now
      var built = start
      val outcome =
        try {
          val df = fn(spark, dataDir)
          built = clock.now
          val rows = df.collect()
          Right((clock.now, rows, df.schema))
        } catch { case e: Throwable => Left((clock.now, e)) }
      sc.setLocalProperty(Tracer.QueryProperty, null)
      if (traced) tracer.endQuery(queryId)
      val end = outcome.fold(_._1, _._1)
      val rows = outcome.fold(_ => 0, _._2.length)
      val module = moduleOf.getOrElse(key, "")
      if (traced) {
        trace.add("kind" -> "query", "id" -> queryId, "parent" -> passId,
          "name" -> key, "module" -> module, "start_ns" -> start, "end_ns" -> end,
          "rows" -> rows, "succeeded" -> outcome.isRight)
        trace.add("kind" -> "construct", "id" -> trace.newId(), "parent" -> queryId,
          "name" -> "construct", "start_ns" -> start, "end_ns" -> built)
        trace.add("kind" -> "execute", "id" -> trace.newId(), "parent" -> queryId,
          "name" -> "execute", "start_ns" -> built, "end_ns" -> end)
      }
      val common = ListMap("key" -> key, "module" -> module, "start_ns" -> start,
        "built_ns" -> built, "end_ns" -> end)
      outcome match {
        case Right((_, collected, schema)) =>
          common ++ Seq("rows" -> rows, "schema" -> Digest.schema(schema),
            "digest" -> Digest.rows(collected, schema))
        case Left((_, e)) =>
          System.err.println(s"[perfbench] $key failed: $e")
          common + ("error" -> String.valueOf(e))
      }
    }
  }

  /** Outside the timed region: frees what the previous query persisted or
    * checkpointed, then checks nothing cached survives into the next one. */
  private def sweep(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
    require(spark.sparkContext.getPersistentRDDs.isEmpty &&
      org.apache.spark.perfbench.Bridge.sqlCacheIsEmpty(spark),
      "a persistent RDD or cached plan survived the sweep")
  }

  /** `local[n]` with one core fewer than the machine has: the core left
    * over takes the JIT, GC and listener threads. With all cores busy, the
    * live heap after a collection varied by a third between identical runs. */
  private def newSession(): SparkSession = {
    val cores = math.max(1, Runtime.getRuntime.availableProcessors - 1).toString
    val spark = graft.SpillDefaults(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Below ~512 MB the code cache fills with whole-stage-codegen classes,
    * the JIT switches itself off and queries run interpreted. */
  private def requireCodeCache(): Unit = {
    val bytes = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeCache") || p.getName.contains("CodeHeap"))
      .map(_.getUsage.getMax).sum
    require(bytes >= 512L * 1024 * 1024,
      s"code cache is ${bytes >> 20} MB; launch with -XX:ReservedCodeCacheSize=1g")
  }
}

/** Wall clock in epoch nanoseconds with `nanoTime` resolution, so client
  * spans line up with the millisecond timestamps Spark's events carry. */
final class Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now: Long = epochNs0 + (System.nanoTime() - nano0)
}

final case class JvmCounters(jitMs: Long, classesLoaded: Long, gcMs: Long) {
  def -(o: JvmCounters): JvmCounters =
    JvmCounters(jitMs - o.jitMs, classesLoaded - o.classesLoaded, gcMs - o.gcMs)
}

object JvmCounters {
  def read(): JvmCounters = JvmCounters(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
}

/** Peak heap occupancy right after a collection, per pass: what stays
  * live, not the garbage a collector has yet to reclaim. */
final class HeapPeak extends NotificationListener {
  @volatile private var measuring = false
  @volatile private var peakBytes = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (measuring &&
        n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakBytes = math.max(peakBytes, live) }
    }

  def start(): Unit = synchronized { peakBytes = 0L; measuring = true }

  /** The peak since `start`; 0 when no collection ran. */
  def finish(): Long = synchronized { measuring = false; peakBytes }

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(this))
}

/** Order-insensitive digest of a collected result, canonicalized as
  * `tools/check.py` compares: columns sorted by name, doubles by their
  * exact shortest representation, null distinct from every value. */
object Digest {
  def schema(s: org.apache.spark.sql.types.StructType): String =
    s.fields.map(f => s"${f.name}:${f.dataType.simpleString}").sorted.mkString(",")

  def rows(rows: Array[Row], s: org.apache.spark.sql.types.StructType): String = {
    val order = s.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var sum = 0L
    var xor = 0L
    for (r <- rows) {
      val line = order.map(i => canon(r.get(i))).mkString("\u0001")
      val h = (MurmurHash3.stringHash(line, 0x5bd1e995).toLong << 32) |
        (MurmurHash3.stringHash(line, 0x1b873593).toLong & 0xffffffffL)
      sum += h
      xor ^= h
    }
    f"${rows.length}%d:$sum%016x:$xor%016x"
  }

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: java.math.BigDecimal => d.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}

/** The harness's records as JSON, with the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
