package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in tracer: spans around the benchmark's calls into the engine's
  * public functions, with the Spark work each span caused attributed to it.
  *
  * A span sets a local property on the client thread; every Spark job that
  * thread (or a thread it starts, such as a streaming query's execution
  * thread) submits carries it, so the listener attributes jobs, tasks,
  * shuffle and spill to the span exactly, whatever order the asynchronous
  * listener bus delivers events in. Jobs of a streaming micro-batch are
  * attributed to a `streaming.batch` span keyed by query id and batch id;
  * the batch's wall and `durationMs` breakdown come from the
  * `StreamingQueryListener`'s progress events. GC time is the JVM-wide
  * collector delta over the span (driver and executors share one JVM in
  * local mode).
  *
  * Spans live in memory and are summarised once, at the end of the run.
  * With `enabled = false` a span is a plain call: no property, no record.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile var enabled: Boolean = false

  private final class Span(val name: String, val key: String) {
    var startMs = 0L
    var endMs = 0L
    var gcMs = 0.0
    var jobs = 0L
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var parent: String = null
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val extra = mutable.Map.empty[String, Double]
    var closed = false
  }

  private val seq = new AtomicLong()
  private val spans = new ConcurrentHashMap[String, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val progress = new ConcurrentHashMap[String, StreamingQueryListener.QueryProgressEvent]()
  @volatile private var current: Span = null

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val owner = if (p == null) null else p.getProperty(Prop)
      if (owner != null) {
        val batch = p.getProperty("streaming.sql.batchId")
        val span =
          if (batch == null) spans.get(owner)
          else {
            val key = s"stream:${p.getProperty("sql.streaming.queryId")}:$batch"
            val s = spans.computeIfAbsent(key, k => new Span(StreamingBatch, k))
            s.synchronized { if (s.parent == null) s.parent = owner }
            s
          }
        if (span != null) {
          span.synchronized { span.jobs += 1 }
          jobStart.put(e.jobId, (span, e.time))
          e.stageIds.foreach(id => stageSpan.put(id, span))
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        s.synchronized { s.jobIntervals += ((t0, e.time)) }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stageSpan.get(e.stageId)
      if (s != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(s"stream:${e.progress.id}:${e.progress.batchId}", e)
  }

  def install(): Tracer = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    enabled = true
    this
  }

  /** Run `body` inside a span named `name`; returns its result. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = new Span(name, s"$name#${seq.incrementAndGet()}")
    spans.put(s.key, s)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(Prop)
    val prev = current
    sc.setLocalProperty(Prop, s.key)
    current = s
    val gc0 = Util.gcMs()
    s.startMs = Util.nowMs()
    try body
    finally {
      s.endMs = Util.nowMs()
      s.gcMs = (Util.gcMs() - gc0).toDouble
      s.closed = true
      sc.setLocalProperty(Prop, prevProp)
      current = prev
    }
  }

  /** A span-specific measure, summed per span and averaged over spans. */
  def extra(name: String, v: Double): Unit =
    Option(current).foreach(s => s.synchronized { s.extra(name) = s.extra.getOrElse(name, 0.0) + v })

  /** Attach a measure to the most recently closed span named `spanName`. */
  def extraLast(spanName: String, name: String, v: Double): Unit =
    spans.values().asScala.filter(s => s.name == spanName && s.closed)
      .toSeq.sortBy(_.key.split('#').last.toLong).lastOption
      .foreach(s => s.synchronized { s.extra(name) = s.extra.getOrElse(name, 0.0) + v })

  /** Per-span summaries: span name → measure → per-occurrence mean. */
  def summary(): Map[String, Map[String, Double]] = {
    org.apache.spark.graftbridge.CoreBridge.drainListenerBus(spark.sparkContext)
    // streaming batches: wall and durationMs from the progress events, GC
    // split evenly over the batches of the drain span that ran them
    val stream = spans.values().asScala.filter(_.name == StreamingBatch).toSeq
    val perParent = stream.groupBy(_.parent).map { case (k, v) => k -> v.size }
    stream.foreach { s =>
      Option(progress.get(s.key)).foreach { e =>
        val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        s.startMs = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
        s.endMs = s.startMs + d.getOrElse("triggerExecution", 0L)
        s.extra("query_planning_ms") = d.getOrElse("queryPlanning", 0L).toDouble
        s.extra("wal_commit_ms") = d.getOrElse("walCommit", 0L).toDouble
        s.extra("add_batch_ms") = d.getOrElse("addBatch", 0L).toDouble
        s.extra("commit_offsets_ms") = d.getOrElse("commitOffsets", 0L).toDouble
        s.closed = true
      }
      Option(spans.get(s.parent)).foreach(p => s.gcMs = p.gcMs / perParent(s.parent))
    }
    spans.values().asScala.filter(s => s.closed && s.name != Drain).toSeq.groupBy(_.name).map {
      case (name, ss) =>
        val rows = ss.map { s =>
          val wallMs = (s.endMs - s.startMs).toDouble
          Map(
            "s" -> wallMs / 1000.0,
            "driver_ms" -> (wallMs - covered(s.jobIntervals.toSeq, s.startMs, s.endMs)),
            "jobs" -> s.jobs.toDouble,
            "tasks" -> s.tasks.toDouble,
            "shuffle_bytes" -> s.shuffleBytes.toDouble,
            "spill_bytes" -> s.spillBytes.toDouble,
            "gc_ms" -> s.gcMs) ++ s.extra
        }
        val keys = rows.flatMap(_.keys).distinct
        name -> keys.map(k => k -> Util.mean(rows.map(_.getOrElse(k, 0.0)))).toMap
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
  val StreamingBatch = "streaming.batch"
  /** A span whose only role is to mark streaming jobs as traced. */
  val Drain = "streaming.drain"

  /** Milliseconds of [lo, hi] covered by the union of `intervals`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total.toDouble
  }
}
