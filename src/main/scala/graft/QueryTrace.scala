package graft

import scala.collection.mutable

import org.apache.spark.GraftSparkShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What a query did, layer by layer: the one listener `Bench`, the
  * `Profile` modes and the job-budget specs read. Between [[reset]] and
  * [[snapshot]] it records every job (interval, stages, `JobLabel`), per
  * stage the summed task metrics, shuffle and spill bytes, and every
  * micro-batch progress report of the session's streaming queries.
  */
final class QueryTrace private (spark: SparkSession) extends SparkListener {
  import QueryTrace._

  private var startMs = System.currentTimeMillis()
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var shuffleBytes = 0L
  private var spillBytes = 0L

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      QueryTrace.this.synchronized { progress += e.progress; () }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the first line only: a stream's own batch description starts with
    // the query's name (empty when unnamed), then its ids
    val label = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("").takeWhile(_ != '\n')
    jobs(e.jobId) = Job(e.jobId, e.time, e.time, label, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    if (!stages.contains(i.stageId))
      stages(i.stageId) = Stage(i.stageId, i.name.takeWhile(_ != '\n'))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stages.getOrElse(e.stageId, Stage(e.stageId, ""))
    stages(e.stageId) =
      if (m == null) s.copy(tasks = s.tasks + 1)
      else {
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
        s.copy(tasks = s.tasks + 1, runMs = s.runMs + m.executorRunTime,
          cpuNs = s.cpuNs + m.executorCpuTime, deserMs = s.deserMs + m.executorDeserializeTime,
          gcMs = s.gcMs + m.jvmGCTime)
      }
  }

  /** Forget everything recorded; the wall interval starts now. */
  def reset(): Unit = {
    GraftSparkShim.waitListenerBusEmpty(spark.sparkContext)
    synchronized {
      jobs.clear(); stages.clear(); progress.clear()
      shuffleBytes = 0L; spillBytes = 0L
      startMs = System.currentTimeMillis()
    }
  }

  /** Everything since [[reset]]: the wall interval ends now, and the
    * listener bus is drained so every event of that interval is counted.
    */
  def snapshot(): Snapshot = {
    val endMs = System.currentTimeMillis()
    GraftSparkShim.waitListenerBusEmpty(spark.sparkContext)
    synchronized {
      Snapshot(startMs, endMs, jobs.values.toList.sortBy(_.startMs), stages.values.toList,
        progress.toList, shuffleBytes, spillBytes)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
  }
}

object QueryTrace {

  /** Registers a new trace on the session's scheduler and streaming listener buses. */
  def attach(spark: SparkSession): QueryTrace = {
    val t = new QueryTrace(spark)
    spark.sparkContext.addSparkListener(t)
    spark.streams.addListener(t.streams)
    t
  }

  final case class Job(id: Int, startMs: Long, endMs: Long, label: String, stageIds: Seq[Int])

  final case class Stage(id: Int, name: String, tasks: Int = 0, runMs: Long = 0L,
      cpuNs: Long = 0L, deserMs: Long = 0L, gcMs: Long = 0L)

  final case class Snapshot(startMs: Long, endMs: Long, jobs: Seq[Job], stages: Seq[Stage],
      progress: Seq[StreamingQueryProgress], shuffleBytes: Long, spillBytes: Long) {
    def wallSec: Double = (endMs - startMs) / 1e3

    /** Wall time outside every job: planning, log replay, footer reads,
      * listing and commits on the driver.
      */
    def driverSec: Double = {
      // length of the union of the job intervals, clipped to the wall interval
      var busy = 0L
      var reach = startMs
      jobs.sortBy(_.startMs).foreach { j =>
        val from = math.max(j.startMs, reach)
        val to = math.min(j.endMs, endMs)
        if (to > from) { busy += to - from; reach = to }
      }
      (endMs - startMs - busy) / 1e3
    }

    /** Jobs per `JobLabel`; jobs without one count under `""`. */
    def labels: Map[String, Int] = jobs.groupBy(_.label).map { case (l, js) => l -> js.size }

    def summary: Summary = Summary(jobs.size, stages.map(_.tasks).sum,
      stages.map(_.runMs).sum / 1e3, stages.map(_.deserMs).sum / 1e3,
      stages.map(_.gcMs).sum / 1e3, shuffleBytes / 1e6, spillBytes / 1e6,
      stages.map(_.cpuNs).sum / 1e9, driverSec, labels)
  }

  /** The per-query `details` entry of `Bench`'s side file. */
  final case class Summary(jobs: Int, tasks: Int, taskSec: Double, deserSec: Double,
      gcSec: Double, shuffleMb: Double, spillMb: Double, cpuSec: Double, driverSec: Double,
      labels: Map[String, Int]) {
    def json: String =
      s"""{"jobs":$jobs,"tasks":$tasks,"task_sec":$taskSec,"deser_sec":$deserSec,""" +
        s""""gc_sec":$gcSec,"shuffle_mb":$shuffleMb,"spill_mb":$spillMb,""" +
        s""""cpu_sec":$cpuSec,"driver_sec":$driverSec,"labels":""" +
        labels.toSeq.sorted.map { case (l, n) => s"${Verify.quote(l)}:$n" }.mkString("{", ",", "}}")
  }
}
