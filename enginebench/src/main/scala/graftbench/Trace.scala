package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `op` is the id of the benchmark operation the span
  * belongs to; `parent` is 0 for an operation's root span. */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String, val startNs: Long) {
  var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** Spans around the benchmark's calls into the engine's layers, kept in
  * memory until the run ends. With tracing on, every call also tags the
  * Spark jobs it starts with the span's id as job group, so
  * [[JobListener]] can hang those jobs and their stages under the call
  * that caused them. With tracing off nothing is recorded or tagged.
  *
  * Times are epoch nanoseconds (monotonic clock plus a fixed offset) so
  * they line up with the epoch milliseconds of Spark's listener events. */
final class Tracer {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L

  /** When false, calls are timed but neither recorded nor tagged: the
    * untraced half of a traced run, which measures the tracing overhead. */
  var recording: Boolean = false

  private def nowNs(): Long = System.nanoTime() + offsetNs

  def spans: Seq[Span] = recorded.toSeq

  /** Time `body` as a span called `name`. Outside any span it starts a new
    * operation. */
  def span[T](name: String)(body: Span => T): T = {
    nextId += 1
    val parent = stack.headOption
    val s = new Span(nextId, parent.map(_.id).getOrElse(0L), parent.map(_.op).getOrElse(nextId),
      name, nowNs())
    val tag = recording && SparkSession.getActiveSession.isDefined
    val sc = if (tag) SparkSession.active.sparkContext else null
    if (tag) sc.setJobGroup(s.id.toString, name)
    stack = s :: stack
    try body(s)
    finally {
      s.endNs = nowNs()
      stack = stack.tail
      if (tag) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None    => sc.clearJobGroup()
      }
      if (recording) recorded += s
    }
  }
}

/** Aggregated task metrics of one stage attempt. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  var submittedMs = 0L
  var completedMs = 0L
  var name = ""
}

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = 0L
}

/** Collects Spark jobs, stages and task metrics while `active`. Events
  * arrive on Spark's listener thread; the benchmark reads them after the
  * SparkSession has stopped, which drains the listener bus. */
final class JobListener extends SparkListener {
  @volatile var active = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageAgg]()
  /** Earliest SQL execution start (epoch ms) per job group: the moment a
    * query's physical plan was ready. */
  val sqlStarts = new ConcurrentHashMap[String, Long]()

  private def agg(stageId: Int, attempt: Int) =
    stages.computeIfAbsent((stageId, attempt), _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time, e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if active =>
      s.jobGroupId.foreach(g => sqlStarts.merge(g, s.time, (x: Long, y: Long) => math.min(x, y)))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
    val i = e.stageInfo
    val a = agg(i.stageId, i.attemptNumber())
    a.synchronized {
      a.submittedMs = i.submissionTime.getOrElse(0L)
      a.completedMs = i.completionTime.getOrElse(0L)
      a.name = i.name
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
    val m = e.taskMetrics
    val a = agg(e.stageId, e.stageAttemptId)
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.taskRunMs += m.executorRunTime
    }
  }

  /** Spark jobs and stages as spans under the benchmark span whose id is
    * their job group. `groupToSpan` maps other group ids (a streaming
    * query's run id) to benchmark spans. A stage is placed under the
    * first job that lists it: later jobs skip stages already computed. */
  def asSpans(byId: Map[Long, Span], groupToSpan: Map[String, Long], firstId: Long): Seq[Span] = {
    var id = firstId
    val claimed = mutable.Set.empty[Int]
    val out = mutable.ArrayBuffer.empty[Span]
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val parentId = Option(j.group).flatMap(g =>
        groupToSpan.get(g).orElse(g.toLongOption).filter(byId.contains))
      parentId.map(byId).foreach { p =>
        id += 1
        val js = new Span(id, p.id, p.op, "spark.job", j.startMs * 1000000L)
        js.endNs = math.max(j.endMs, j.startMs) * 1000000L
        js.attrs("job_id") = j.id
        out += js
        j.stageIds.sorted.filterNot(claimed).foreach { sid =>
          stages.asScala.toSeq.filter(_._1._1 == sid).sortBy(_._1._2).foreach { case (_, a) =>
            claimed += sid
            id += 1
            val ss = new Span(id, js.id, p.op, "spark.stage", a.submittedMs * 1000000L)
            ss.endNs = math.max(a.completedMs, a.submittedMs) * 1000000L
            val runs = a.taskRunMs.sorted
            ss.attrs ++= Seq(
              "stage_id" -> sid, "stage_name" -> a.name, "tasks" -> a.tasks,
              "task_run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
              "shuffle_write_mb" -> a.shuffleWriteBytes / 1e6, "shuffle_write_s" -> a.shuffleWriteNs / 1e9,
              "shuffle_read_mb" -> a.shuffleReadBytes / 1e6, "fetch_wait_s" -> a.fetchWaitMs / 1e3,
              "spill_mb" -> a.spillBytes / 1e6, "bytes_read_mb" -> a.inputBytes / 1e6,
              "task_max_s" -> runs.lastOption.getOrElse(0L) / 1e3,
              "task_p50_s" -> (if (runs.isEmpty) 0.0 else runs(runs.length / 2) / 1e3))
            out += ss
          }
        }
      }
    }
    out.toSeq
  }
}

final case class Progress(runId: String, startMs: Long, durations: Map[String, Long], rows: Long)

/** Streaming micro-batch progress (`durationMs` per phase), keyed by the
  * query's run id. */
final class StreamListener extends StreamingQueryListener {
  @volatile var active = false
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
    val p = e.progress
    progress.add(Progress(p.runId.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
  }
}
