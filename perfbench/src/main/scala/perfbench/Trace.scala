package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import perfbench.Stats.Span

/** Records what Spark reports through its public listener APIs: jobs and
  * tasks (SparkListener), planning phases (QueryExecutionListener) and
  * micro-batch progress (StreamingQueryListener). Everything is kept in
  * memory; [[Trace.layers]] turns it into spans and per-layer figures. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val phases = new ConcurrentLinkedQueue[(String, Long)]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time, e.stageIds.toSet))
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time)
    lastEventMs = System.currentTimeMillis()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) tasks.add(Task(
      e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    lastEventMs = System.currentTimeMillis()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (k, v) => phases.add((k, v.durationMs)) }
    lastEventMs = System.currentTimeMillis()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and no event has arrived for a moment (bounded). */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = jobs.asScala.forall(j => jobEnds.containsKey(j.id)) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Recorder {
  final case class Job(id: Int, startMs: Long, stages: Set[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
      shuffleWriteBytes: Long, shuffleWriteRecords: Long, shuffleWriteNs: Long,
      shuffleReadBytes: Long, fetchWaitMs: Long, spillBytes: Long,
      outBytes: Long, outRecords: Long)
}

/** Collects micro-batch progress of every streaming query. Also used
  * untraced: the YSB workload's backlog and batch times come from it. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

object ProgressLog {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def durMs(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
}

/** A span recorded by the benchmark around one call into the program: a
  * gate pass (layer driver), or the whole YSB stream (layer idle: outside
  * its micro-batches the stream waits for the next trigger). */
final case class Call(id: String, startMs: Long, endMs: Long, layer: String = "driver")

object Trace {

  /** Spans of a traced region and its per-layer self time. Layers, outer
    * to inner: harness (the benchmark between units), driver or idle
    * (inside a unit but outside micro-batches and jobs: Catalyst and driver
    * code in a gate pass, trigger waits in a stream),
    * streaming (inside a micro-batch but outside its jobs), scheduler
    * (inside a job while no task runs), and executor time, which is split
    * between shuffle and operators by the tasks' shuffle share. Sibling
    * spans are merged unions, so the layer times add up to the wall time. */
  def layers(regionStart: Long, regionEnd: Long, units: Seq[Call],
      progress: Seq[StreamingQueryProgress], rec: Recorder)
      : (Seq[Span], Map[String, Double]) = {
    val spans = mutable.ArrayBuffer[Span]()
    spans += Span("run", "", "harness", regionStart.toDouble, regionEnd.toDouble)
    val batches = progress.map { p =>
      val s = ProgressLog.startMs(p)
      (s.toDouble, (s + ProgressLog.durMs(p, "triggerExecution")).toDouble)
    }
    val jobSpans = rec.jobs.asScala.toSeq.flatMap { j =>
      Option(rec.jobEnds.get(j.id)).map(e => (j, j.startMs.toDouble, e.toDouble))
    }
    val stageToJob = jobSpans.flatMap { case (j, _, _) => j.stages.map(_ -> j.id) }.toMap
    val tasks = rec.tasks.asScala.toSeq
    val tasksByJob = tasks.groupBy(t => stageToJob.getOrElse(t.stage, -1))
    var n = 0
    def id(p: String) = { n += 1; s"$p$n" }
    /** Adds the union of `ivs` clipped to the parent as child spans. */
    def children(parent: Span, layer: String, ivs: Seq[(Double, Double)]): Seq[Span] =
      merge(ivs.map { case (a, b) => (math.max(a, parent.startMs), math.min(b, parent.endMs)) }
        .filter { case (a, b) => b > a })
        .map { case (a, b) => Span(id(layer), parent.id, layer, a, b) }
    val unitSpans = units.map(u => Span(u.id, "run", u.layer, u.startMs.toDouble, u.endMs.toDouble))
    spans ++= unitSpans
    for (u <- unitSpans) {
      val bs = children(u, "streaming", batches.filter(b => b._1 >= u.startMs && b._1 < u.endMs))
      spans ++= bs
      val inUnit = jobSpans.filter { case (_, s, _) => s >= u.startMs && s < u.endMs }
      def jobsUnder(parent: Span, js: Seq[(Recorder.Job, Double, Double)]): Unit =
        for (js2 <- children(parent, "scheduler", js.map(j => (j._2, j._3)))) {
          spans += js2
          val ts = js.filter(j => j._2 < js2.endMs && j._3 > js2.startMs)
            .flatMap(j => tasksByJob.getOrElse(j._1.id, Nil))
            .map(t => (t.launchMs.toDouble, t.finishMs.toDouble))
          spans ++= children(js2, "executor", ts)
        }
      for (b <- bs) jobsUnder(b, inUnit.filter(j => j._2 >= b.startMs && j._2 < b.endMs))
      jobsUnder(u, inUnit.filterNot(j => bs.exists(b => j._2 >= b.startMs && j._2 < b.endMs)))
    }
    val self = Stats.layerSelfTimes(spans.toSeq)
    val run = tasks.map(_.runMs).sum.toDouble
    val shuffleShare =
      if (run <= 0) 0.0
      else math.min(1.0, tasks.map(t => t.fetchWaitMs + t.shuffleWriteNs / 1e6).sum / run)
    val exec = self.getOrElse("executor", 0.0)
    val out = Map(
      "harness" -> self.getOrElse("harness", 0.0),
      "idle" -> self.getOrElse("idle", 0.0),
      "driver" -> self.getOrElse("driver", 0.0),
      "streaming" -> self.getOrElse("streaming", 0.0),
      "scheduler" -> self.getOrElse("scheduler", 0.0),
      "shuffle" -> exec * shuffleShare,
      "operators" -> exec * (1 - shuffleShare))
    (spans.toSeq, out)
  }

  def merge(ivs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val out = mutable.ArrayBuffer[(Double, Double)]()
    for ((a, b) <- ivs.sortBy(_._1)) {
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  /** Counters per layer over a traced region. Keys are the per-layer
    * metric names. */
  def counters(rec: Recorder, progress: Seq[StreamingQueryProgress],
      units: Seq[Call]): Map[String, Double] = {
    val tasks = rec.tasks.asScala.toSeq
    val jobs = rec.jobs.asScala.toSeq
    def sum(f: Recorder.Task => Long): Double = tasks.map(f).sum.toDouble
    val phases = rec.phases.asScala.toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    val byStage = tasks.groupBy(_.stage).values.filter(_.size >= 2)
    val skew = if (byStage.isEmpty) 1.0 else byStage.map { ts =>
      val med = Stats.median(ts.map(_.runMs.toDouble))
      ts.map(_.runMs).max / math.max(1.0, med)
    }.max
    val jobCover = units.map { u =>
      val ivs = jobs.filter(j => j.startMs >= u.startMs && j.startMs < u.endMs)
        .flatMap(j => Option(rec.jobEnds.get(j.id)).map(e => (j.startMs.toDouble, e.toDouble)))
      Stats.coveredMs(ivs, u.startMs.toDouble, u.endMs.toDouble)
    }.sum
    val state = progress.flatMap(_.stateOperators.toSeq)
    val run = sum(_.runMs)
    Map(
      "driver.analysis_ms" -> phases.getOrElse("analysis", 0L).toDouble,
      "driver.optimization_ms" -> phases.getOrElse("optimization", 0L).toDouble,
      "driver.planning_ms" -> phases.getOrElse("planning", 0L).toDouble,
      "driver.jobs" -> jobs.size.toDouble,
      "driver.stages" -> jobs.map(_.stages.size).sum.toDouble,
      "driver.tasks" -> tasks.size.toDouble,
      "driver.idle_ms" -> (units.map(u => u.endMs - u.startMs).sum - jobCover),
      "sources.bytes_read" -> sum(_.inBytes),
      "sources.records_read" -> sum(_.inRecords),
      "sources.latest_offset_ms" -> progress.map(ProgressLog.durMs(_, "latestOffset")).sum.toDouble,
      "operators.run_ms" -> run,
      "operators.cpu_ms" -> sum(_.cpuMs),
      "operators.gc_ms" -> sum(_.gcMs),
      "operators.cpu_frac" -> (if (run > 0) sum(_.cpuMs) / run else 0.0),
      "operators.task_skew" -> skew,
      "shuffle.write_bytes" -> sum(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sum(_.shuffleReadBytes),
      "shuffle.records_written" -> sum(_.shuffleWriteRecords),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "shuffle.spill_bytes" -> sum(_.spillBytes),
      "streaming.batches" -> progress.size.toDouble,
      "streaming.empty_batch_frac" ->
        (if (progress.isEmpty) 0.0 else progress.count(_.numInputRows == 0).toDouble / progress.size),
      "streaming.trigger_ms_p50" ->
        (if (progress.isEmpty) 0.0
         else Stats.median(progress.map(ProgressLog.durMs(_, "triggerExecution").toDouble))),
      "streaming.add_batch_ms" -> progress.map(ProgressLog.durMs(_, "addBatch")).sum.toDouble,
      "streaming.query_planning_ms" -> progress.map(ProgressLog.durMs(_, "queryPlanning")).sum.toDouble,
      "streaming.wal_commit_ms" -> progress.map(ProgressLog.durMs(_, "walCommit")).sum.toDouble,
      "streaming.commit_offsets_ms" -> progress.map(ProgressLog.durMs(_, "commitOffsets")).sum.toDouble,
      "streaming.state_rows" -> (if (state.isEmpty) 0.0 else state.map(_.numRowsTotal).max.toDouble),
      "streaming.state_bytes" -> (if (state.isEmpty) 0.0 else state.map(_.memoryUsedBytes).max.toDouble),
      "streaming.state_commit_ms" -> state.map(_.commitTimeMs).sum.toDouble,
      "sinks.bytes_written" -> sum(_.outBytes),
      "sinks.records_written" -> sum(_.outRecords))
  }
}
