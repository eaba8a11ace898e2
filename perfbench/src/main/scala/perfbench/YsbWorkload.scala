package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.ysb.{Gen, Ysb}
import perfbench.Main.{Args, Metric, Result}
import perfbench.Stats.Rung

/** The paper's query on an open-loop source: `Ysb.filterViews` →
  * `projectAdTime` → `enrichCampaign` → `windowedCounts` (10 s windows,
  * 10 s watermark, update mode, 1 s trigger), fed by [[OpenLoopProvider]]
  * on a fixed schedule: a warm-up rung and a reference rung at
  * `RefRatePerCore`, then, in traced runs, the rate ladder. The end-to-end
  * figures come from the reference rung; the ladder gives the sustainable
  * rate, a per-layer figure because the knee moves too much from run to
  * run on a shared 4-core box to be gated. */
object YsbWorkload {

  val TriggerMs = 1000L
  val WindowLeadMs = 50L
  /** Tail latency a sustained rate must meet: one result per trigger. */
  val LatencyLimitMs = 1000.0
  /** Backlog growth allowed on a sustained rung, as a share of its rate.
    * A rung holds three or four batches, and the backlog at a batch end is
    * the rows that came due while it ran, so this only catches a backlog
    * that grows faster than batch-time noise; the load test is the
    * sharper one. */
  val GrowthTol = 0.25
  /** Rates are per core, so the schedule scales with the cores of local[n]. */
  val WarmMs = 4000L
  val RefRatePerCore = 1500000L
  /** Batches of the reference rung that the end-to-end figures use: the
    * last ones, the furthest from the warm-up. */
  val RefBatches = 20
  val LadderPerCore: Seq[Long] = Seq(3000000L, 4500000L, 6000000L, 7500000L, 9000000L)
  val RungMs = 4000L
  val Window = "10 seconds"

  /** Warm-up, then the reference rung for the rest of the run's seconds,
    * then (traced runs only) the ladder. */
  def schedule(cores: Int, seconds: Int, ladder: Boolean): Schedule = {
    val ref = RefRatePerCore * cores
    val refMs = math.max((RefBatches + 2) * TriggerMs, seconds * 1000L - WarmMs)
    val rungs = if (ladder) LadderPerCore.map(_ * cores) else Nil
    Schedule(Seq(ref, ref) ++ rungs, Seq(WarmMs, refMs) ++ rungs.map(_ => RungMs))
  }

  /** One latency sample per updated (window, campaign) group. */
  final case class Sample(batch: Long, latencyMs: Double)

  /** One run of the schedule. `startMs` is the schedule's start on the
    * wall clock; the query runs from `launchMs` to `endMs`. */
  final case class StreamRun(samples: Seq[Sample], progress: Seq[StreamingQueryProgress],
      counts: Map[(Long, String), Long], launchMs: Long, startMs: Long, endMs: Long,
      error: Option[String], observed: Map[String, Long])

  /** Runs the schedule once. With `observe`, row counts after the filter
    * and the join are taken with `Dataset.observe` (traced runs only). */
  def stream(spark: SparkSession, a: Args, gen: EventGen, ckpt: String,
      observe: Boolean): StreamRun = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val counts = new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()
    // Processing-time triggers fire on multiples of the interval. Starting
    // the schedule WindowLeadMs before a tick puts every window end that
    // far before a trigger, whatever the wall clock: a run's tail latency
    // then does not depend on where window ends happen to fall.
    val startMs = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs - WindowLeadMs
    val launchMs = System.currentTimeMillis()
    val events = spark.readStream.format(classOf[OpenLoopProvider].getName)
      .option("gen", gen.encode).option("startMs", startMs)
      .option("partitions", a.cores).load()
    def obs(df: DataFrame, name: String) =
      if (observe) df.observe(name, count(lit(1)).as("rows")) else df
    val campaigns = Gen.campaigns(spark)
    val filtered = obs(Ysb.filterViews(events.withWatermark("event_time", Window)), "filter")
    val joined = obs(Ysb.enrichCampaign(Ysb.projectAdTime(filtered), campaigns), "join")
    val query = Ysb.windowedCounts(joined, Window).writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val rows = batch.collect()
        val emit = System.currentTimeMillis()
        rows.foreach { r =>
          val lastUs = r.getAs[java.sql.Timestamp]("last_update").toInstant
          val lastUsRel = lastUs.getEpochSecond * 1000000L + lastUs.getNano / 1000 - EventGen.BaseUs
          samples.add(Sample(id, emit - (startMs + lastUsRel / 1000.0)))
          counts.put((r.getAs[Long]("time_window"), r.getAs[String]("campaign_id")),
            r.getAs[Long]("count"))
        }
        ()
      }
      .start()
    val endMs = startMs + gen.sched.totalUs / 1000 + TriggerMs * 3 / 2
    var error: Option[String] = None
    try query.awaitTermination(math.max(1L, endMs - System.currentTimeMillis()))
    catch { case e: Throwable => error = Some(e.toString.take(500)) }
    query.stop()
    Thread.sleep(300)
    spark.streams.removeListener(log)
    val progress = log.all.filter(_.numInputRows >= 0).sortBy(_.batchId)
    val observed = progress.flatMap(_.observedMetrics.asScala.toSeq)
      .groupMapReduce(_._1)(_._2.getAs[Long]("rows"))(_ + _)
    StreamRun(samples.asScala.toSeq, progress, counts.asScala.toMap,
      launchMs, startMs, System.currentTimeMillis(), error, observed)
  }

  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(0L)
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)

  /** Batches per rung, in order. A batch belongs to the rung of its last
    * row; one that straddles a rate change (its first row in an earlier
    * rung) is left out, and so is one that starts after the schedule
    * ended (it only drains the tail). */
  def batchesByRung(run: StreamRun, gen: EventGen): Seq[(Int, Seq[StreamingQueryProgress])] = {
    val sched = gen.sched
    val schedEnd = run.startMs + sched.totalUs / 1000
    run.progress.filter(p => p.numInputRows > 0 && p.batchId > 0 && ProgressLog.startMs(p) < schedEnd)
      .groupBy(p => sched.rungOfRow(endOffset(p) - 1)).toSeq.sortBy(_._1)
      .map { case (k, ps) => k -> ps.sortBy(_.batchId).filter(p => sched.rungOfRow(startOffset(p)) == k) }
  }

  /** A rung's figures from its batches: backlog (rows due but not
    * committed) at each batch end, batch times and latency samples. */
  def rung(run: StreamRun, gen: EventGen, k: Int, ps: Seq[StreamingQueryProgress]): Rung = {
    val lat = run.samples.groupBy(_.batch)
    val backlog = ps.map { p =>
      val endMs = ProgressLog.startMs(p) + ProgressLog.durMs(p, "triggerExecution")
      val due = gen.sched.rowsDue((endMs - run.startMs) * 1000L)
      ((endMs - run.startMs) / 1000.0, (due - endOffset(p)).toDouble)
    }
    Rung(gen.sched.rates(k).toDouble, backlog,
      ps.map(p => ProgressLog.durMs(p, "triggerExecution").toDouble),
      ps.flatMap(p => lat.getOrElse(p.batchId, Nil).map(_.latencyMs)))
  }

  /** Windows whose rows have all been committed, checked against the
    * closed-form per-campaign view counts. Returns (checked, mismatched). */
  def check(run: StreamRun, gen: EventGen): (Int, Int, Seq[String]) = {
    val committed = run.progress.map(endOffset).foldLeft(0L)(math.max)
    if (committed == 0) return (0, 0, Nil)
    val winUs = 10000000L
    val lastUs = gen.sched.schedUs(committed - 1)
    val complete = (0L until (lastUs + 1) / winUs).filter(w => gen.sched.rowsDue((w + 1) * winUs - 1) <= committed)
    val bad = mutable.ArrayBuffer[String]()
    for (w <- complete) {
      val lo = gen.sched.rowsDue(w * winUs - 1)
      val hi = gen.sched.rowsDue((w + 1) * winUs - 1)
      val want = gen.viewsPerCampaign(lo, hi)
      val winMs = (EventGen.BaseUs + w * winUs) / 1000
      val got = run.counts.collect { case ((tw, c), n) if tw == winMs => c -> n }
      val exp = want.zipWithIndex.filter(_._1 > 0).map { case (n, c) => s"camp$c" -> n }.toMap
      if (got != exp) bad += s"window $w: ${got.size} groups emitted, ${exp.size} expected, " +
        s"${(exp.keySet ++ got.keySet).count(k => got.get(k) != exp.get(k))} differ"
    }
    (complete.size, bad.size, bad.toSeq)
  }

  /** Rows per second of the generator alone, into the noop sink. */
  def genRate(spark: SparkSession, a: Args, gen: EventGen): Double = {
    val rows = 20000000L
    val t0 = System.nanoTime()
    spark.read.format(classOf[OpenLoopProvider].getName)
      .option("gen", gen.encode).option("rows", rows).option("partitions", a.cores)
      .load().write.format("noop").mode("overwrite").save()
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  def run(a: Args): Result = {
    val gen = EventGen(a.seed, schedule(a.cores, a.seconds, ladder = a.trace))
    val refRate = gen.sched.rates(1)
    var ckpts = 0
    def ckpt() = { ckpts += 1; s"${a.out}/ckpt-$ckpts" }
    val (spark, setups) = Main.setUp(a) { s =>
      // warm-up: the same stages over a bounded slice of the source
      Ysb.query(s.read.format(classOf[OpenLoopProvider].getName)
        .option("gen", gen.encode).option("rows", 400000L).option("partitions", a.cores).load(),
        Gen.campaigns(s)).write.format("noop").mode("overwrite").save()
    }
    val plain = stream(spark, a, gen, ckpt(), observe = false)
    val (checked, mismatched, bad) = check(plain, gen)
    val attempted = plain.progress.count(_.numInputRows > 0) + checked
    val failed = mismatched + plain.error.size
    val byRung = batchesByRung(plain, gen)
    val ref = rung(plain, gen, 1,
      byRung.find(_._1 == 1).map(_._2).getOrElse(Nil).takeRight(RefBatches))
    val ladder = byRung.filter(_._1 >= 1).map { case (k, ps) => rung(plain, gen, k, ps) }
    val record = Map[String, Any](
      "setup_s" -> setups, "errors" -> (bad ++ plain.error.toSeq), "schedule" -> gen.sched.encode,
      "windows_checked" -> checked,
      "batches" -> plain.progress.map(p => Map("id" -> p.batchId, "start_row" -> startOffset(p),
        "end_row" -> endOffset(p), "ms" -> ProgressLog.durMs(p, "triggerExecution"),
        "latency_ms" -> plain.samples.filter(_.batch == p.batchId).map(_.latencyMs).maxOption)),
      "rungs" -> ladder.map(r => Map("rate" -> r.rate, "batches" -> r.batchMs.size,
        "batch_ms_p50" -> (if (r.batchMs.isEmpty) 0.0 else Stats.median(r.batchMs)),
        "latency_p99_ms" -> (if (r.latencyMs.isEmpty) 0.0 else Stats.tail(r.latencyMs).value),
        "growth_rows_s" -> r.growthRowsPerS,
        "sustained" -> Stats.sustained(r, TriggerMs.toDouble, LatencyLimitMs, GrowthTol))))
    if (ref.batchMs.size < RefBatches || ref.latencyMs.isEmpty)
      return Result(Map.empty, math.max(1, attempted), failed + 1, record)
    val refS = ref.batchMs.map(_ / 1000)
    val p99 = Stats.tail(ref.latencyMs)
    if (!a.trace) {
      val metrics = Map(
        "setup_s" -> Metric.of(setups),
        "total_s" -> Metric.one(refS.sum, s"sum of $RefBatches micro-batch times at the reference rate"),
        "geomean_gate_s" -> Metric.one(Stats.geomean(refS), "geomean micro-batch time at the reference rate"),
        "latency_p50_ms" -> Metric.of(ref.latencyMs, s"at $refRate events/s"),
        "latency_p99_ms" -> Metric(p99.value, p99.value, p99.value, p99.n,
          f"p${p99.pct}%.1f at $refRate events/s"),
        "peak_rss_mb" -> Metric.one(Main.peakRssMb()))
      return Result(metrics, attempted, failed, record)
    }

    // Traced run of the same schedule, separate from the timed one.
    val rec = new Recorder
    val log = new ProgressLog
    rec.attach(spark)
    spark.streams.addListener(log)
    val traced = stream(spark, a, gen, ckpt(), observe = true)
    rec.drain()
    spark.streams.removeListener(log)
    rec.detach(spark)
    val call = Call("ysb#trace", traced.launchMs, traced.endMs, layer = "idle")
    val (spans, self) = Trace.layers(call.startMs, call.endMs, Seq(call), log.all, rec)
    val tracedRef = batchesByRung(traced, gen).find(_._1 == 1)
      .map(b => rung(traced, gen, 1, b._2.takeRight(RefBatches)).batchMs.sum / 1000).getOrElse(0.0)
    // batch time against batch rows over every measured batch of the
    // untraced run: the intercept is the per-batch cost, the slope the
    // per-row cost
    val fitted = byRung.filter(_._1 >= 1).flatMap(_._2)
      .map(p => (p.numInputRows.toDouble, ProgressLog.durMs(p, "triggerExecution").toDouble))
    val perRow = Stats.slope(fitted)
    val fixedMs = fitted.map(_._2).sum / fitted.size - perRow * fitted.map(_._1).sum / fitted.size
    val layer = Trace.counters(rec, log.all, Seq(call)) ++
      self.map { case (k, v) => s"selftime.${k}_ms" -> v } ++ Map(
        "selftime.wall_ms" -> (call.endMs - call.startMs).toDouble,
        "trace.overhead_frac" -> (tracedRef / refS.sum - 1),
        "sources.backlog_rows_max" -> ladder.flatMap(_.backlog.map(_._2)).foldLeft(0.0)(math.max),
        "sources.backlog_growth_rows_s" -> ladder.map(_.growthRowsPerS).foldLeft(0.0)(math.max),
        "sources.gen_rows_s" -> genRate(spark, a, gen),
        "streaming.batch_fixed_ms" -> fixedMs,
        "operators.ns_per_row" -> perRow * 1e6,
        "ysb.sustainable_rps" -> Stats.sustainableRate(ladder, TriggerMs.toDouble, LatencyLimitMs, GrowthTol),
        "ysb.rows_in" -> traced.progress.map(_.numInputRows).sum.toDouble,
        "ysb.rows_after_filter" -> traced.observed.getOrElse("filter", 0L).toDouble,
        "ysb.rows_joined" -> traced.observed.getOrElse("join", 0L).toDouble,
        "ysb.groups_updated" -> traced.samples.size.toDouble)
    Result(layer.map { case (k, v) => k -> Metric.one(v) }, attempted, failed,
      record, spans)
  }
}
