package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-operation Spark counters, keyed on the job group the harness sets
  * around each operation. Registered only in the traced run.
  */
class JobTap extends SparkListener {
  final class Group {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var cpuNs = 0L
    var maxTaskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.Map.empty[String, Group]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L
  private var cachedPeak = 0L

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    e.stageIds.foreach(stageGroup(_) = g)
    jobStart(e.jobId) = (g, e.time)
    group(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => group(g).intervals += ((t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "(none)"))
    g.tasks += 1
    g.maxTaskMs = math.max(g.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      g.cpuNs += m.executorCpuTime
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      g.input += m.inputMetrics.bytesRead
      g.output += m.outputMetrics.bytesWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      cachedPeak = math.max(cachedPeak, cachedBytes)
    }
  }

  def cachedPeakBytes: Long = synchronized(cachedPeak)

  /** Counters of one job group as a JSON-ready map. */
  def snapshot(g: String): Map[String, Any] = synchronized {
    val s = groups.getOrElse(g, new Group)
    Map("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "task_cpu_s" -> s.cpuNs / 1e9, "max_task_s" -> s.maxTaskMs / 1e3,
      "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
      "spill_b" -> s.spill, "input_b" -> s.input, "output_b" -> s.output,
      "job_intervals_ms" -> s.intervals.toSeq.map { case (a, b) => Seq(a, b) })
  }
}

/** Micro-batch progress of every streaming query in the JVM. Registered
  * through `spark.sql.streaming.streamingQueryListeners`, because the
  * drains run on `newSession()`, which does not inherit `addListener`.
  */
class StreamTap extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val state = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
    StreamTap.batches.add(Map(
      "rows" -> p.numInputRows,
      "duration_ms" -> dur,
      "state_commit_ms" -> state.map(_.commitTimeMs).sum,
      "state_rows" -> state.map(_.numRowsTotal).sum))
  }
}

object StreamTap {
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
}

/** JSON rendering of the harness's results (Scala maps, sequences, options). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
