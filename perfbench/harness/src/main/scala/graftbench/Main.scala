package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, smoke: Boolean, baseline: Boolean)

/** What one workload run measured. `gate` holds the benchmark's
  * end-to-end metrics (besides `setup_s`), `named` the
  * workload's own metrics under their descriptive names, `layers` the
  * per-layer metrics of a traced run. `attempted`/`failed` count the
  * operations that can fail. */
final case class Result(attempted: Long, failed: Long, problems: Seq[String],
    gate: Map[String, Double], named: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])

/** Benchmark process: the workload's set-up, repeated in fresh sessions
  * from the program's own `GraftSession.build()`, then one timed workload
  * and one result file. Run by `perfbench/run.py`. */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv.get("trace").contains("1"),
      kv("data"), kv("work"), kv("out"), kv.get("smoke").contains("1"), kv.get("baseline").contains("1"))
  }

  /** Runs the set-up `rounds` times, each in a new session (a new Spark
    * application, so no cache of an earlier round is reused). Round 1
    * is timed from JVM start, the others from stopping the previous
    * session. The tracer, if any, is attached to the last session
    * before its set-up. Returns that session, its set-up and every
    * round's seconds. */
  private def setUp[P](a: Args, rounds: Int, tracer: SparkSession => Option[Tracer])(
      prepare: (SparkSession, Int) => P): (SparkSession, P, Seq[Double]) = {
    val secs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prepared: Option[P] = None
    (1 to rounds).foreach { i =>
      val t0 = if (i == 1) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = graft.GraftSession.build()
      if (i == rounds) tracer(spark).foreach { t => t.attach(); Trace.tracer = t }
      prepared = Some(prepare(spark, i))
      secs += (System.currentTimeMillis() - t0) / 1000.0
    }
    (spark, prepared.get, secs.toSeq)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rounds = if (a.baseline || a.smoke) 1 else SetupRounds
    val tracer = (s: SparkSession) => if (a.trace) Some(new Tracer(s)) else None
    val (spark, run, setups) = a.workload match {
      case "live" =>
        val (s, p, t) = setUp(a, rounds, tracer)(Live.prepare(_, a, _))
        (s, () => if (a.baseline) Live.baseline(s, a, p) else Live.run(s, a, p), t)
      case "queries" =>
        val (s, p, t) = setUp(a, rounds, tracer)(Queries.prepare(_, a, _))
        (s, () => Queries.run(s, a, p), t)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val l0 = Load.sample()
    val r = run()
    val load = Load.between(l0, Load.sample())
    Option(Trace.tracer).foreach(_.detach())
    val layers = r.layers ++ Map(
      "load.busy_share" -> load.getOrElse("busy_share", Double.NaN),
      "load.steal_share" -> load.getOrElse("steal_share", Double.NaN),
      "load.wall_per_cpu" -> load.getOrElse("wall_per_cpu", Double.NaN)) ++
      Option(Trace.tracer).map(_.selfSeconds.map { case (k, v) => s"self.${k}_s" -> v }).getOrElse(Map.empty)
    Option(Trace.tracer).foreach(t => Fs.write(s"${a.work}/spans.jsonl", t.spansJson))
    Fs.write(a.out, Json.render(Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "setup_s" -> Stats.median(setups), "setup_rounds_s" -> setups,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "problems" -> r.problems, "gate" -> r.gate, "named" -> r.named, "layers" -> layers,
      "load" -> load, "detail" -> r.detail)))
    spark.stop()
  }
}
