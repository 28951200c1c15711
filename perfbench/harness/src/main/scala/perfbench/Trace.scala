package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.json4s._

/**
 * The traced run's instruments, all outside the engine: a
 * SparkListener (jobs, tasks, task CPU, bytes), a
 * StreamingQueryListener (per-trigger progress phases, query starts,
 * first data commits), the codegen counters, and timed spans around
 * the public calls the workloads make. Spans stay in memory and are
 * written at exit. With tracing off every method is a no-op and no
 * listener is registered.
 *
 * Per-layer values land in [[Out]] under `layer:<metric>` — a scalar,
 * or a sample list `run.py` reduces to its median.
 */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private final case class Span(id: Long, parent: Long, name: String,
      startMs: Double, durMs: Double)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val parent = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val inBytes = new AtomicLong
  private val outBytes = new AtomicLong

  private val recording = new AtomicBoolean(false)
  private val dataBatches = new AtomicLong
  private val rows = new AtomicLong
  private val phases = new ConcurrentLinkedQueue[(String, Double)]()
  // query name -> wall ms its start was requested; consumed by the
  // first onQueryStarted / first data progress of that name
  private val startSent = new ConcurrentHashMap[String, java.lang.Double]()
  private val commitSent = new ConcurrentHashMap[String, java.lang.Double]()
  private val startLags = new ConcurrentLinkedQueue[Double]()
  private val commitLags = new ConcurrentLinkedQueue[Double]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (recording.get) jobs.incrementAndGet(): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording.get && e.taskMetrics != null) {
        tasks.incrementAndGet()
        cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
        inBytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
        outBytes.addAndGet(e.taskMetrics.outputMetrics.bytesWritten): Unit
      }
  }

  private val queryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    // a pending start request is consumed whether or not it is
    // recorded, so a set-up start never lands in the measured window
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(startSent.remove(e.name)).foreach(t =>
        if (recording.get) startLags.add(Util.now() - t))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        Option(commitSent.remove(p.name)).foreach(t =>
          if (recording.get) commitLags.add(Util.now() - t))
      if (recording.get) {
        if (p.numInputRows > 0) {
          dataBatches.incrementAndGet()
          rows.addAndGet(p.numInputRows)
        }
        p.durationMs.asScala.foreach { case (k, v) => phases.add(k -> v.toDouble) }
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Time `body` as a span named `name`, child of the enclosing span
    * on this thread; kept only inside the measured window. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val up = parent.get()
      parent.set(id)
      val start = Util.now()
      val t0 = System.nanoTime()
      try body
      finally {
        if (recording.get) spans.add(Span(id, up, name, start, Util.ms(t0)))
        parent.set(up)
      }
    }

  /** A query start is being requested now (for the start/commit lags). */
  def startRequested(query: String): Unit = if (enabled) {
    startSent.put(query, Util.now())
    commitSent.put(query, Util.now())
  }

  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  private def counters: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "cpu_ms" -> cpuNs.get / 1e6,
    "in" -> inBytes.get.toDouble,
    "out" -> outBytes.get.toDouble,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen_ms" -> {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      h.getSnapshot.getMean * h.getCount
    },
    "gc_ms" -> gcMs)

  private var base: Map[String, Double] = Map.empty

  /** Start of the measured window: counters, spans, listener phases
    * and start/commit lags count from here. */
  def begin(): Unit = if (enabled) {
    base = counters
    recording.set(true)
  }

  /** End of the measured window: per-unit Spark and codegen counts
    * (`units` = cycles or epochs done in the window; 0 = the
    * data-carrying micro-batches the query listener saw). */
  def end(out: Out, units: Double): Unit = if (enabled) {
    recording.set(false)
    val d = counters.map { case (k, v) => k -> (v - base.getOrElse(k, 0.0)) }
    val per = math.max(if (units > 0) units else dataBatches.get.toDouble, 1.0)
    out.set("layer:spark.jobs_per_batch", d("jobs") / per)
    out.set("layer:spark.tasks_per_batch", d("tasks") / per)
    out.set("layer:spark.task_cpu_ms", d("cpu_ms") / per)
    out.set("layer:spark.input_bytes", d("in") / per)
    out.set("layer:spark.output_bytes", d("out") / per)
    out.set("layer:catalyst.codegen_compiles", d("compiles") / per)
    out.set("layer:catalyst.codegen_ms", d("codegen_ms") / per)
    out.set("layer:jvm.gc_ms", d("gc_ms"))
    if (dataBatches.get > 0) {
      out.set("layer:streaming.batches", dataBatches.get.toDouble)
      out.set("layer:streaming.rows_per_batch", rows.get.toDouble / dataBatches.get)
    }
    val names = Map(
      "latestOffset" -> "sources.latest_offset_ms",
      "getBatch" -> "sources.get_batch_ms",
      "queryPlanning" -> "catalyst.query_planning_ms",
      "addBatch" -> "streaming.commit.add_batch_ms",
      "walCommit" -> "streaming.wal.wal_commit_ms",
      "commitOffsets" -> "streaming.wal.commit_offsets_ms")
    phases.asScala.foreach { case (k, v) =>
      names.get(k).foreach(n => out.add(s"layer:$n", v))
    }
    startLags.asScala.foreach(out.add("layer:streaming.control.query_start_ms", _))
    commitLags.asScala.foreach(out.add("layer:streaming.control.first_commit_ms", _))
  }

  /** Span durations by name, as per-layer samples. */
  def spanSamples(out: Out, mapping: (String, String)*): Unit = if (enabled) {
    val m = mapping.toMap
    spans.asScala.foreach(s => m.get(s.name).foreach(n => out.add(s"layer:$n", s.durMs)))
  }

  def finish(out: Out): Unit = if (enabled) {
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    out.set("layer:jvm.heap_after_gc_mb", heap / 1048576.0)
    out.set("spans", JArray(spans.asScala.toList.sortBy(_.id).map(s => JObject(
      "id" -> JLong(s.id), "parent" -> JLong(s.parent), "name" -> JString(s.name),
      "start_ms" -> JDouble(s.startMs), "dur_ms" -> JDouble(s.durMs)): JValue)))
  }
}
