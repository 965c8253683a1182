package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One clock for the whole run: milliseconds since the harness
  * started, from `nanoTime`. Listener events carry wall-clock epoch
  * milliseconds; [[Clock.ofEpoch]] maps them onto the same axis.
  */
object Clock {
  private val originNanos = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - originNanos) / 1e6
  def ofEpoch(epochMs: Long): Double = (epochMs - originEpochMs).toDouble
  /** The JVM's own start on the same axis (negative). */
  def jvmStart(): Double =
    ofEpoch(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
}

/** Minimal JSON writer for the raw run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Spark job/stage/task recorder for the traced run. Jobs carry the
  * job group the harness sets around each layer call (`key|layer`),
  * which links every job and stage to its key and layer span.
  */
class SparkRecorder extends SparkListener {
  private case class Job(id: Int, group: String, start: Double,
      stages: Seq[Int], var end: Double = Double.NaN)
  private case class Stage(id: Int, attempt: Int, tasks: Int, submit: Double,
      complete: Double, maxTaskMs: Double, runMs: Double, cpuMs: Double,
      gcMs: Double, inBytes: Long, shReadBytes: Long, shWriteBytes: Long,
      spillBytes: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val maxTask = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, g, Clock.ofEpoch(e.time), e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = Clock.ofEpoch(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val d = (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
    maxTask.merge((e.stageId, e.stageAttemptId), d,
      (a, b) => java.lang.Double.valueOf(math.max(a, b)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val mt = Option(maxTask.remove((i.stageId, i.attemptNumber()))).map(_.doubleValue)
    stages.add(Stage(i.stageId, i.attemptNumber(), i.numTasks,
      i.submissionTime.map(Clock.ofEpoch).getOrElse(Double.NaN),
      i.completionTime.map(Clock.ofEpoch).getOrElse(Double.NaN),
      mt.getOrElse(0.0),
      if (m == null) 0.0 else m.executorRunTime.toDouble,
      if (m == null) 0.0 else m.executorCpuTime / 1e6,
      if (m == null) 0.0 else m.jvmGCTime.toDouble,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def json(): String = {
    val stageJob = mutable.Map[Int, Int]()
    jobs.values.asScala.foreach(j => j.stages.foreach(s => stageJob(s) = j.id))
    Json.obj(
      "jobs" -> Json.arr(jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        Json.obj("id" -> j.id.toString, "group" -> Json.str(j.group),
          "start" -> Json.num(j.start), "end" -> Json.num(j.end)))),
      "stages" -> Json.arr(stages.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map(s =>
        Json.obj("id" -> s.id.toString,
          "job" -> stageJob.get(s.id).map(_.toString).getOrElse("null"),
          "tasks" -> s.tasks.toString, "submit" -> Json.num(s.submit),
          "complete" -> Json.num(s.complete),
          "max_task_ms" -> Json.num(s.maxTaskMs), "run_ms" -> Json.num(s.runMs),
          "cpu_ms" -> Json.num(s.cpuMs), "gc_ms" -> Json.num(s.gcMs),
          "input_bytes" -> s.inBytes.toString,
          "shuffle_read_bytes" -> s.shReadBytes.toString,
          "shuffle_write_bytes" -> s.shWriteBytes.toString,
          "spill_bytes" -> s.spillBytes.toString))))
  }
}

/** Streaming progress recorder for the traced run: every
  * `StreamingQueryProgress` of every query, as Spark's own JSON.
  */
class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(String, String)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(Option(e.progress.name).getOrElse("") -> e.progress.json)
  def json(): String = Json.arr(progress.asScala.map { case (n, p) =>
    Json.obj("query" -> Json.str(n), "progress" -> p) })
}
