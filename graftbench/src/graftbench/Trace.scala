package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds (fractional) so
  * spans recorded by the benchmark line up with Spark's listener times.
  * `req` ties the spans of one request (micro-batch or query) together.
  */
final case class Span(id: Int, layer: String, name: String,
    start: Double, end: Double, parent: Int, req: String)

/** Spans recorded from the benchmark's own code, around each call into
  * a layer of the program. Kept in memory; written out at the end. When
  * tracing is off `span` only runs the body.
  */
final class Recorder(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 1

  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()
  /** Epoch milliseconds from the monotonic clock. */
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def span[T](layer: String, name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, layer, name, t0, t1, parent, req) }
      }
    }

  /** A span whose times come from Spark's own progress reports. */
  def add(layer: String, name: String, start: Double, end: Double, parent: Int, req: String): Int =
    synchronized {
      nextId += 1
      spans += Span(nextId, layer, name, start, end, parent, req)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList)
}

final case class JobRec(id: Int, start: Long, var end: Long, label: String,
    stages: Seq[Int], batch: String)
final case class TaskRec(stage: Int, cpuNs: Long, runMs: Long, deserMs: Long,
    gcMs: Long, shuffleBytes: Long, spillBytes: Long, finish: Long)
final case class Progress(query: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], rows: Long)

/** Spark's public listener events: jobs, stages and task metrics
  * (SparkListener), actions (QueryExecutionListener) and micro-batch
  * progress (StreamingQueryListener). Registered only when tracing.
  */
final class SparkEvents {
  val jobs = ArrayBuffer.empty[JobRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val actions = ArrayBuffer.empty[(String, Long)]
  val progress = ArrayBuffer.empty[Progress]
  private val jobById = scala.collection.mutable.Map.empty[Int, JobRec]

  val scheduler: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkEvents.this.synchronized {
      val props = Option(e.properties)
      val label = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).getOrElse("")
      val j = JobRec(e.jobId, e.time, -1L, label, e.stageIds, batch)
      jobs += j
      jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkEvents.this.synchronized {
      jobById.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) SparkEvents.this.synchronized {
        tasks += TaskRec(e.stageId, m.executorCpuTime, m.executorRunTime,
          m.executorDeserializeTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled + m.memoryBytesSpilled, e.taskInfo.finishTime)
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      SparkEvents.this.synchronized { actions += (funcName -> System.currentTimeMillis()) }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkEvents.this.synchronized { progress += SparkEvents.progressOf(e.progress) }
  }

  def register(spark: SparkSession): Unit = {
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
  }

}

object SparkEvents {
  def progressOf(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Progress = {
    import scala.jdk.CollectionConverters._
    Progress(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
  }
}

/** Interval arithmetic for self time and driver gaps. */
object Intervals {
  /** Total length of the union of `xs`, clipped to [lo, hi]. */
  def union(xs: Seq[(Double, Double)], lo: Double = Double.MinValue, hi: Double = Double.MaxValue): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
