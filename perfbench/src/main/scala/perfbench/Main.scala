package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One benchmark run in one JVM. Invoked by `run.py`, which builds the
  * program, passes the workload and seed, checks gate outputs against
  * their DuckDB oracles and prints the result line.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --data <sf dir> --out <run dir>
  * }}}
  *
  * Writes `<out>/result.json`; with `--trace 1` also `<out>/spans.json`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, data: String, out: String)

  /** A reported figure: its median with quartiles and sample count. Units
    * are BENCHMARK.json's. */
  final case class Metric(value: Double, q1: Double, q3: Double, n: Int, note: String = "") {
    def json: Map[String, Any] =
      Map("value" -> value, "q1" -> q1, "q3" -> q3, "n" -> n, "note" -> note)
  }

  object Metric {
    def of(xs: Seq[Double], note: String = ""): Metric = {
      val s = Stats.summary(xs)
      Metric(s.median, s.q1, s.q3, s.n, note)
    }
    def one(x: Double, note: String = ""): Metric = Metric(x, x, x, 1, note)
  }

  /** What a workload hands back: metrics (end-to-end untraced, per-layer
    * traced), units of work attempted and failed inside the JVM, and
    * anything worth keeping in the run record. */
  final case class Result(metrics: Map[String, Metric], attempted: Int, failed: Int,
      record: Map[String, Any] = Map.empty, spans: Seq[Stats.Span] = Nil)

  /** Setups per run; setup_s reports their median. */
  val SetupReps = 3

  /** Creates the session `SetupReps` times, each time running the
    * workload's warm-up and input preparation, and returns the last
    * session with every setup's wall time in seconds. */
  def setUp(a: Args)(prepare: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val times = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = GraftSession.local("perfbench", a.cores.toString)
      spark.sparkContext.setLogLevel("ERROR")
      prepare(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, times)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("data"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.out))
    val res = a.workload match {
      case "ysb_open_loop" => YsbWorkload.run(a)
      case w if Gates.workloads.contains(w) => Gates.run(a, Gates.workloads(w))
      case w => sys.error(s"unknown workload $w")
    }
    val metrics = res.metrics.map { case (k, v) => k -> v.json }
    Files.writeString(Paths.get(a.out, "result.json"), Json.render(Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> metrics, "record" -> res.record)))
    if (a.trace) Files.writeString(Paths.get(a.out, "spans.json"), Json.render(
      res.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
