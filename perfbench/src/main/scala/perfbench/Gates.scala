package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Q, Registry}
import graft.sources.Tables
import perfbench.Main.{Args, Metric, Result}

/** The gate workloads: registry gates run through `Q.run`, each result
  * forced through the `noop` sink (full row production, nothing written).
  * One untimed pass writes every result for the oracle check, more untimed
  * passes let the JIT settle, then the timed passes run.
  *
  * Every pass runs the gates in the same order. The order moves gate
  * times by up to a fifth (JIT profiles and GC debt carry from one gate to
  * the next), so a seeded order would make the seed, not the code, set the
  * figures. */
object Gates {

  /** `passS` is about how long one timed pass takes on a 4-core box; it
    * sizes the pass count to the run's seconds. */
  final case class Workload(gates: Seq[String], warmPasses: Int, passS: Double)

  /** A gate's time is the median of at least this many passes, so one
    * slow pass does not move it. */
  val MinPasses = 3

  /** Timed passes per run. The count depends on the run's seconds only,
    * not on how fast the passes go, so every commit is measured on the same
    * sample: the same passes at the same point of JIT warm-up. */
  def passes(w: Workload, seconds: Int): Int = math.max(MinPasses, (seconds / w.passS).toInt)

  val workloads: Map[String, Workload] = Map(
    // Every twelfth gate of the 163 non-streaming ones, by name: a
    // cross-section of the families at the small scale, where fixed
    // per-query cost (Catalyst, job scheduling, small scans) dominates.
    "batch_gates" -> Workload(Seq(
      "q01_pricing_summary", "q12b_percentile_sketch", "q24_null_funcs", "qa01_asof_join",
      "qd03_minhash_lsh_pairs", "qd13_incremental_dedup", "qf01_csv_roundtrip",
      "qm04_audio_features", "qs04_quantized_rerank", "qt03_langid", "qt15_bpe_pairs",
      "qw04_running_agg", "qx03_stratified_sample", "qx15_weighted_sample"),
      warmPasses = 2, passS = 3.5))

  private def timed(spark: SparkSession, q: Q, dir: String): Double = {
    val t0 = System.nanoTime()
    q.run(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def run(a: Args, w: Workload): Result = {
    val byName = Registry.byName
    val qs = w.gates.map(g => byName.getOrElse(g, sys.error(s"no gate $g")))
    val dir = a.data
    val (spark, setups) = Main.setUp(a) { s =>
      Tables.lineitem(s, a.data).limit(1000).count()
    }
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
    def attempt[T](name: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
      }
    }

    // Warm pass: untimed; its results go to the oracle check.
    val warmStart = System.nanoTime()
    for (q <- qs) {
      spark.sparkContext.setJobGroup(s"${q.name}#warm", q.name, false)
      attempt(q.name)(q.run(spark, dir).write.mode("overwrite")
        .parquet(s"${a.out}/results/${q.name}"))
    }
    Files.writeString(Paths.get(a.out, "results", "oracle_sql.json"), Json.render(
      qs.flatMap(q => q.oracleAt(dir).map(q.name -> _)).toMap))
    for (_ <- 1 to w.warmPasses; q <- qs)
      attempt(q.name)(timed(spark, q, dir))

    // Timed passes.
    val start = System.nanoTime()
    val warmS = (start - warmStart) / 1e9
    val passes = (0 until Gates.passes(w, a.seconds)).map { p =>
      qs.flatMap { q =>
        spark.sparkContext.setJobGroup(s"${q.name}#$p", q.name, false)
        attempt(q.name)(timed(spark, q, dir)).map(q.name -> _)
      }
    }
    spark.sparkContext.clearJobGroup()

    val totals = passes.map(_.map(_._2).sum)
    val perGate = passes.flatten.groupMap(_._1)(_._2).map { case (k, v) => k -> Stats.median(v) }
    val record = Map[String, Any](
      "setup_s" -> setups, "warm_s" -> warmS, "timed_s" -> (System.nanoTime() - start) / 1e9,
      "errors" -> errors.toSeq, "gates" -> qs.map(_.name), "dir" -> dir,
      "passes" -> passes.map(_.toMap))

    if (!a.trace) {
      val medGates = perGate.values.toSeq
      val worst = medGates.max
      val total = medGates.sum
      val (q1, q3) = Stats.quartiles(totals)
      val geo = passes.map(p => Stats.geomean(p.map(_._2)))
      val (g1, g3) = Stats.quartiles(geo)
      val metrics = Map(
        "setup_s" -> Metric.of(setups),
        "total_s" -> Metric(total, q1, q3, passes.size,
          "sum of per-gate median time-to-result; quartiles of pass totals"),
        "geomean_gate_s" -> Metric(Stats.geomean(medGates), g1, g3, passes.size,
          "geomean of per-gate median time-to-result; quartiles of pass geomeans"),
        "latency_p50_ms" -> Metric.of(medGates.map(_ * 1000), "per-gate median time-to-result"),
        "latency_p99_ms" -> Metric.one(worst * 1000,
          "slowest per-gate median time-to-result: no percentile of so few gates has 10 beyond it"),
        "peak_rss_mb" -> Metric.one(Main.peakRssMb()))
      return Result(metrics, attempted, failed, record)
    }

    // Traced pass, separate from the timed ones, then one more untraced
    // pass: the overhead compares the traced pass with the passes on
    // either side of it, which the JIT has warmed as far.
    val log = new ProgressLog
    val rec = new Recorder
    rec.attach(spark)
    spark.streams.addListener(log)
    val calls = mutable.ArrayBuffer[Call]()
    val t0 = System.currentTimeMillis()
    for (q <- qs) {
      spark.sparkContext.setJobGroup(s"${q.name}#trace", q.name, false)
      val s = System.currentTimeMillis()
      attempt(q.name) {
        val df = q.run(spark, dir)
        // the gate's own DataFrame was analysed before the save's listener event
        df.queryExecution.tracker.phases.get("analysis").foreach(p => rec.phases.add(("analysis", p.durationMs)))
        df.write.format("noop").mode("overwrite").save()
      }
      calls += Call(s"${q.name}#trace", s, System.currentTimeMillis())
    }
    val t1 = System.currentTimeMillis()
    rec.drain()
    spark.streams.removeListener(log)
    rec.detach(spark)
    spark.sparkContext.clearJobGroup()
    val after = qs.flatMap(q => attempt(q.name)(timed(spark, q, dir))).sum
    val (spans, self) = Trace.layers(t0, t1, calls.toSeq, log.all, rec)
    val traced = (t1 - t0) / 1000.0
    val layer = Trace.counters(rec, log.all, calls.toSeq) ++
      self.map { case (k, v) => s"selftime.${k}_ms" -> v } ++ Map(
        "selftime.wall_ms" -> (t1 - t0).toDouble,
        "trace.overhead_frac" -> (traced / ((totals.last + after) / 2) - 1),
        "sources.backlog_rows_max" -> 0.0, "sources.backlog_growth_rows_s" -> 0.0,
        "sources.gen_rows_s" -> 0.0, "streaming.batch_fixed_ms" -> 0.0,
        "operators.ns_per_row" -> 0.0, "ysb.sustainable_rps" -> 0.0,
        "ysb.rows_in" -> 0.0, "ysb.rows_after_filter" -> 0.0, "ysb.rows_joined" -> 0.0,
        "ysb.groups_updated" -> 0.0)
    Result(layer.map { case (k, v) => k -> Metric.one(v) }, attempted, failed,
      record, spans)
  }
}
