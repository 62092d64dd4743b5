package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listeners of the traced pass. Everything is observed through Spark's
  * public listener APIs (`SparkListener`, `QueryExecutionListener` with
  * the `QueryPlanningTracker` of each action, `StreamingQueryListener`);
  * events are kept in memory and turned into spans by [[finish]].
  *
  * A span is (id, parent, kind, name, start_ms, end_ms, attrs); kinds
  * are run, op, phase (build / action / pipeline / stream / backfill),
  * plan (analysis / optimization / planning), job, stage and
  * micro_batch. Jobs hang under the op whose job group launched them,
  * or else the op whose window holds their start; stages hang under the
  * first job that lists them.
  */
final class Tracer(spark: SparkSession) {

  private final class JobRec(val id: Int, val startMs: Long, val group: String,
      val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }

  /** Task metrics summed per stage; task durations kept for the skew. */
  private final class StageAgg(val id: Int) {
    var submitMs = -1L
    var completeMs = -1L
    val taskMs = ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill, peakMem = 0L
  }

  private final case class QeRec(func: String, ok: Boolean,
      phases: Seq[(String, Long, Long)])

  private final case class Progress(runId: String, batchId: Long, startMs: Long,
      durations: Map[String, Long], inputRows: Long)

  private val jobs = TrieMap.empty[Int, JobRec]
  private val stages = TrieMap.empty[Int, StageAgg]
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var tasksSeen = 0L

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = new JobRec(e.jobId, e.time, group, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val s = stage(i.stageId)
      s.synchronized {
        s.submitMs = i.submissionTime.getOrElse(-1L)
        s.completeMs = i.completionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId)
      val m = e.taskMetrics
      s.synchronized {
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        }
      }
      tasksSeen += 1
    }
  }

  private def phasesOf(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      qes.add(QeRec(func, ok = true, phasesOf(qe)))
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      qes.add(QeRec(func, ok = false, phasesOf(qe)))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and no event has arrived for a few polls. */
  private def drain(): Unit = {
    def sig = (jobs.size, jobs.values.count(_.endMs >= 0), tasksSeen, qes.size, progress.size)
    var last = sig
    var quiet = 0
    val deadline = System.currentTimeMillis() + 15000L
    while (quiet < 4 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = sig
      quiet = if (now == last && now._1 == now._2) quiet + 1 else 0
      last = now
    }
  }

  /** Stop listening and return the spans of the traced pass. */
  def finish(pass: Harness.Pass): Map[String, Any] = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)

    val spans = ArrayBuffer.empty[Map[String, Any]]
    var nextId = 0
    def add(parent: Int, kind: String, name: String, s: Long, e: Long,
        attrs: Map[String, Any] = Map.empty): Int = {
      val id = nextId
      nextId += 1
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> s, "end_ms" -> e, "attrs" -> attrs)
      id
    }
    val ops = pass.ops
    val runId = add(-1, "run", pass.kind,
      ops.headOption.map(_.startMs).getOrElse(0L),
      ops.lastOption.map(_.endMs).getOrElse(0L),
      Map("run_s" -> pass.runS))
    val opIds = ops.map { o =>
      val id = add(runId, "op", o.name, o.startMs, o.endMs,
        Map("ok" -> o.ok, "latency_s" -> o.latencyS) ++ o.info)
      o.phases.foreach { case (n, s, e) => add(id, "phase", n, s, e) }
      id
    }
    def opAt(ms: Long): Int = ops.indexWhere(o => o.startMs <= ms && ms <= o.endMs) match {
      case -1 => runId
      case i => opIds(i)
    }
    val opByName = ops.map(_.name).zip(opIds).toMap

    qes.asScala.foreach { q =>
      val end = if (q.phases.isEmpty) -1L else q.phases.map(_._3).max
      val parent = opAt(end)
      q.phases.sortBy(_._2).foreach { case (n, s, e) =>
        add(parent, "plan", n, s, e, Map("func" -> q.func, "ok" -> q.ok))
      }
    }
    val stageParent = scala.collection.mutable.Map.empty[Int, Int]
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      val parent = Option(j.group).flatMap(opByName.get).getOrElse(opAt(j.startMs))
      val id = add(parent, "job", s"job_${j.id}", j.startMs, j.endMs,
        Map("group" -> Option(j.group).getOrElse(""), "stages" -> j.stageIds.size))
      j.stageIds.foreach(s => if (!stageParent.contains(s)) stageParent(s) = id)
    }
    stages.values.toSeq.sortBy(_.id).foreach { s =>
      s.synchronized {
        val sorted = s.taskMs.sorted
        val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
        add(stageParent.getOrElse(s.id, runId), "stage", s"stage_${s.id}",
          s.submitMs, s.completeMs, Map(
            "tasks" -> s.taskMs.size, "task_max_ms" -> sorted.lastOption.getOrElse(0L),
            "task_median_ms" -> median, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
            "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
            "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
            "spill_bytes" -> s.spill, "peak_mem_bytes" -> s.peakMem))
      }
    }
    val opByRun = ops.zip(opIds).flatMap { case (o, id) =>
      o.info.get("run_id").map(r => r.toString -> id) }.toMap
    progress.asScala.foreach { p =>
      val trig = p.durations.getOrElse("triggerExecution", 0L)
      add(opByRun.getOrElse(p.runId, runId), "micro_batch", s"batch_${p.batchId}",
        p.startMs, p.startMs + trig, Map("durations" -> p.durations,
          "input_rows" -> p.inputRows))
    }
    Map("spans" -> spans.toSeq)
  }
}
